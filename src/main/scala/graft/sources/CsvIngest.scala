package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Bronze CSV ingestion (SURVEY.md §2 A1/A2) — the Spark form of the
  * reference's `read_csv_auto(url, all_varchar=true, sep=..,
  * header=.., encoding=.., ignore_errors=true)` plus audit columns
  * (/root/reference/airflow/dags/mobility_ingestion_pipeline.py:112-199,
  * 443-447).
  *
  * Schema-on-read: every column lands as VARCHAR (silver owns typing,
  * via [[graft.functions.CleanFns]]); malformed rows are captured in
  * `_corrupt_record` instead of failing the scan (PERMISSIVE — the
  * `ignore_errors` equivalent that keeps the evidence).
  */
object CsvIngest {

  val CorruptCol = "_corrupt_record"

  /** Normalize header artifacts the way the reference's ingestion does
    * (mobility_ingestion_pipeline.py:144-170 surgically strips `ï»¿`
    * and whitespace from column names before force-renaming): a UTF-8
    * BOM decodes to U+FEFF under UTF-8 and to the `ï»¿` mojibake under
    * ISO-8859-1 — both land glued to the FIRST header name — and
    * exporters routinely pad header cells with spaces. Applied to
    * header-derived names only (assigned `columns` are caller-owned).
    */
  private[sources] def normalizeName(c: String): String = {
    val cleaned = c.replace("\uFEFF", "")
      .replace("ï»¿", "").trim
    if (cleaned.isEmpty) c else cleaned
  }

  /** Read a CSV with explicit dialect options, all columns as string.
    *
    * @param columns when the file is headerless, the column names to
    *                assign (reference's bronze feeds include
    *                headerless exports); ignored when header=true and
    *                empty.
    */
  def read(spark: SparkSession, path: String, sep: String = ",",
      encoding: String = "UTF-8", header: Boolean = true,
      columns: Seq[String] = Nil): DataFrame = {
    val base = spark.read
      .option("sep", sep)
      .option("encoding", encoding)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
    if (columns.nonEmpty) {
      val schema = StructType(
        columns.map(StructField(_, StringType, nullable = true)) :+
          StructField(CorruptCol, StringType, nullable = true))
      base.schema(schema).csv(path)
    } else {
      // all-varchar schema-on-read: sample only the header line
      val named = base.option("inferSchema", "false").csv(path)
      val schema = StructType(
        named.schema.fields.map(f => StructField(f.name, StringType,
          nullable = true)) :+
          StructField(CorruptCol, StringType, nullable = true))
      val parsed = base.schema(schema).csv(path)
      // rename AFTER parsing (the parser must match the file's header
      // bytes, BOM and all; the lake never sees the artifact)
      parsed.toDF(parsed.columns.map(normalizeName): _*)
    }
  }

  /** One candidate CSV dialect for [[readAuto]]. */
  final case class Dialect(sep: String = ",", encoding: String = "UTF-8",
      header: Boolean = true)

  /** The reference's INE ingestion retry ladder
    * (mobility_ingestion_pipeline.py:144-153): tab-separated UTF-8,
    * then semicolon, then semicolon ISO-8859-1.
    */
  val DefaultLadder: Seq[Dialect] = Seq(
    Dialect(sep = "\t"),
    Dialect(sep = ";"),
    Dialect(sep = ";", encoding = "ISO-8859-1"))

  /** Per-dialect parse quality, measured in ONE aggregate pass over
    * the parsed batch: column count, corrupt-row count, and rows
    * containing U+FFFD (the replacement char a wrong ENCODING leaves
    * behind — unlike a wrong separator, it never fails a row, so
    * corrupt counts alone cannot reject it).
    */
  final case class ParseQuality(columns: Int, corruptRows: Long,
      mangledRows: Long) {
    def clean: Boolean = columns > 1 && corruptRows == 0 && mangledRows == 0
  }

  private def quality(df: DataFrame): ParseQuality = {
    val dataCols = df.columns.filterNot(_ == CorruptCol)
    val r = df.agg(
      count(when(col(CorruptCol).isNotNull, 1)).as("corrupt"),
      count(when(concat_ws("", dataCols.map(col): _*)
        .contains("\uFFFD"), 1)).as("mangled")).head()
    ParseQuality(dataCols.length, r.getLong(0), r.getLong(1))
  }

  /** Dialect fallback cascade — the Spark form of the reference's
    * try/except ladder (mobility_ingestion_pipeline.py:144-153).
    * DuckDB THROWS on a bad dialect so the reference retries on
    * exceptions; Spark's PERMISSIVE scan never throws, so each rung is
    * judged by measured parse quality instead: accept the first
    * dialect that parses >1 column with zero corrupt rows and zero
    * replacement-character rows, else fall back to the least-bad rung
    * (fewest corrupt, then fewest mangled, then widest). Each attempt
    * is one extra scan of the file — bronze-ingest cost, paid once per
    * source, never per query.
    *
    * Returns the parsed batch (same contract as [[read]]) and the
    * accepted dialect, so the caller can pin it for future loads of
    * the same feed.
    */
  def readAuto(spark: SparkSession, path: String,
      ladder: Seq[Dialect] = DefaultLadder,
      columns: Seq[String] = Nil): (DataFrame, Dialect) = {
    require(ladder.nonEmpty, "empty dialect ladder")
    val attempts = ladder.iterator.map { d =>
      val df = read(spark, path, d.sep, d.encoding, d.header, columns)
      (df, d, quality(df))
    }
    // stop at the first clean rung (laziness: later rungs never scan)
    val tried = scala.collection.mutable.ArrayBuffer
      .empty[(DataFrame, Dialect, ParseQuality)]
    attempts.foreach { a =>
      tried += a
      if (a._3.clean) {
        val (df, d, _) = a
        return (df, d)
      }
    }
    val (df, d, _) = tried.minBy { case (_, _, q) =>
      (q.corruptRows, q.mangledRows, -q.columns)
    }
    (df, d)
  }

  /** Lineage columns: ingestion timestamp, source URL, and the actual
    * file each row came from (reference's ingestion_timestamp /
    * source_url / filename).
    */
  def withAudit(df: DataFrame, sourceUrl: String): DataFrame =
    df.withColumn("ingestion_timestamp", current_timestamp())
      .withColumn("source_url", lit(sourceUrl))
      .withColumn("filename",
        regexp_extract(input_file_name(), "([^/]+)$", 1))

  /** Fetch a CSV from a URL into a local staging file, then [[read]] +
    * [[withAudit]] — the reference's bronze tasks read CSVs straight
    * from `https://` sources (mobility_ingestion_pipeline.py:112-199
    * via DuckDB httpfs); Spark's CSV source wants a filesystem path,
    * so the fetch stages first (which is also what a production
    * pipeline does: land the raw bytes, then parse — the landed file
    * IS the replayable bronze evidence).
    *
    * `http(s)://` fetches via java.net.http; `file://` copies (used by
    * the spec — this container has no egress). Staging is keyed by a
    * content-independent hash of the URL, so re-ingesting the same
    * source overwrites its own staging slot (idempotent re-runs). The
    * default staging root is `target/staging` under the working
    * directory.
    */
  def fromUrl(spark: SparkSession, url: String,
      stagingDir: String =
        java.nio.file.Paths.get("target", "staging").toAbsolutePath.toString,
      sep: String = ",", encoding: String = "UTF-8",
      header: Boolean = true, columns: Seq[String] = Nil,
      retries: Int = 3, retryDelayMs: Long = 1000L): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    val uri = java.net.URI.create(url)
    val fileName = Option(Paths.get(uri.getPath).getFileName)
      .map(_.toString).getOrElse("")
    require(fileName.nonEmpty, s"URL has no file name: $url")
    // slot keyed by a full SHA-256 of the URL: collision-proof, so two
    // distinct URLs sharing a basename never race one staging file
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(url.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val slot = Paths.get(stagingDir, digest.take(16))
    Files.createDirectories(slot)
    val dest = slot.resolve(fileName)
    // ONLY the fetch retries (reference parity: the ingest tasks
    // declare retries=3/retry_delay, mobility_ingestion_pipeline.py:84)
    // — a parse failure is deterministic and must surface, not loop.
    retrying(retries, retryDelayMs, what = s"fetch $url") {
      uri.getScheme match {
        case "http" | "https" =>
          val client = java.net.http.HttpClient.newBuilder()
            .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
            .build()
          val req = java.net.http.HttpRequest.newBuilder(uri).GET().build()
          // TRUNCATE_EXISTING: re-ingesting a source whose content
          // shrank must not leave stale trailing bytes in the staged CSV
          val resp = client.send(req,
            java.net.http.HttpResponse.BodyHandlers.ofFile(dest,
              StandardOpenOption.CREATE, StandardOpenOption.WRITE,
              StandardOpenOption.TRUNCATE_EXISTING))
          // IOException (not require): a 5xx is transient — it must
          // take the retry path, which IllegalArgumentException skips
          if (resp.statusCode() / 100 != 2)
            throw new java.io.IOException(
              s"fetch $url failed: HTTP ${resp.statusCode()}")
        case "file" =>
          Files.copy(Paths.get(uri), dest, StandardCopyOption.REPLACE_EXISTING)
        case other =>
          throw new IllegalArgumentException(s"unsupported scheme: $other")
      }
    }
    withAudit(read(spark, dest.toString, sep, encoding, header, columns),
      sourceUrl = url)
  }

  /** Bounded retry with exponential backoff: `retries` RE-attempts
    * after the first try (retries=3 → up to 4 attempts, the reference
    * task policy), delays delayMs, 2×, 4×, …. Unsupported-scheme
    * errors don't retry — no wait loop can fix a malformed request.
    * The last failure propagates with earlier ones suppressed on it.
    */
  private[sources] def retrying[A](retries: Int, delayMs: Long,
      what: String)(body: => A): A = {
    var attempt = 0
    var delay = delayMs
    while (true) {
      try return body
      catch {
        case e: IllegalArgumentException => throw e // non-retryable
        case e: Throwable =>
          attempt += 1
          if (attempt > retries) throw e
          Thread.sleep(delay)
          delay *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Spark refuses plans that reference ONLY `_corrupt_record` from a
    * raw CSV scan (the parser never materializes it alone), so the
    * clean/quarantine split caches the parsed batch once — the same
    * materialization feeds both sinks, which is also the efficient
    * shape: one parse, two writes. Unpersist after the batch commits.
    *
    * One cache entry per plan: `storageLevel` consults the session's
    * CacheManager, so calling [[cleanRows]] and [[corruptRows]] on the
    * same batch (or re-reading the same source) reuses the existing
    * entry instead of registering the plan twice.
    */
  private def materialized(df: DataFrame): DataFrame = {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.cache()
    df
  }

  /** Rows that failed parsing (for quarantine sinks / DQ metrics). */
  def corruptRows(df: DataFrame): DataFrame =
    materialized(df).filter(col(CorruptCol).isNotNull)

  /** Clean rows with the corrupt-record column dropped. */
  def cleanRows(df: DataFrame): DataFrame =
    materialized(df).filter(col(CorruptCol).isNull).drop(CorruptCol)
}
