"""Seeded input generator for the graft benchmark.

Writes every generated input of one workload into a work directory:

  days/        daily_refresh: one bronze CSV per day, in mixed dialects
  *.parquet    curation: the corpus subset, probe batch, vectors, queries
  ops.tsv      the operation stream, one op per line
  inputs.json  what the run and its checks need: where the base tables
               are, planted corrupt rows, dialects, corrections, ...

The seed drives only the generated parts (CSV dialects, planted corrupt
rows, corrections, users to forget, request parameters, corpus subset
and query vectors). The base tables and the corpus pool come from
tools/gen_sf.py with its own fixed seed, so they are the same for every
seed; they are made once per checkout into a cache directory.
"""
import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Base lakehouse scale: sf0.1 is 100k events over 30 days (~3.3k/day).
BASE_SF = "0.1"
# Curation corpus scale: gen_sf's open-vocab documents at sf0.1 are 5k
# docs; embeddings at sf0.5 are 4k vectors. Each run takes a seeded
# subset, so the working set is the same size for every seed.
CORPUS_SF = "0.1"
EMB_SF = "0.5"
DOC_SUBSET = 4000
EMB_SUBSET = 3000
N_QUERIES = 64
DAYS = 10  # timed days; one more, past them, is the warm pass's day
PROBE_DOCS = 500

DIALECTS = [  # (sep, encoding, header)
    (",", "UTF-8", True),
    (";", "ISO-8859-1", True),
    (",", "UTF-8", False),
    (";", "ISO-8859-1", False),
]
CSV_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value",
               "props", "city", "day"]
# accented names make the ISO-8859-1 dialect's bytes differ from UTF-8
CITIES = ["Málaga", "Córdoba", "Cádiz", "Jaén", "Almería", "Sevilla"]


def gen_sf(repo, cache, sf, *flags):
    """Directory of gen_sf.py's tables at `sf`, made once per version of
    the generator."""
    tool = os.path.join(repo, "tools", "gen_sf.py")
    with open(tool, "rb") as f:
        key = hashlib.sha256(f.read() + repr((sf, flags)).encode())
    out = os.path.join(cache, "gen_sf-" + key.hexdigest()[:16])
    if not os.path.exists(out + ".ok"):
        subprocess.run([sys.executable, tool, sf, out, *flags], check=True,
                       stdout=subprocess.DEVNULL)
        open(out + ".ok", "w").close()
    return out


def write_ops(work, ops):
    with open(os.path.join(work, "ops.tsv"), "w") as f:
        for op in ops:
            f.write("\t".join(str(x) for x in op) + "\n")


def fmt_ts(us):
    return np.char.replace(
        np.datetime_as_string(us.astype("datetime64[us]"), unit="us"),
        "T", " ")


def daily_refresh(repo, cache, work, rng):
    base = gen_sf(repo, cache, BASE_SF)
    ev = pq.read_table(os.path.join(base, "events.parquet"))
    ts = ev.column("ts").to_numpy().astype("datetime64[us]")
    day = ts.astype("datetime64[D]")
    # a run gets through a day or two; ten bound the stream. The set-up's
    # warm pass ingests the day after them, a file no timed op reads.
    days = np.unique(day)[:DAYS + 1]
    ids = ev.column("event_id").to_numpy()
    users = ev.column("user_id").to_numpy()
    os.makedirs(os.path.join(work, "days"), exist_ok=True)
    meta = {"base": base, "days": {}, "corrections": {}, "forget": {}}
    city = np.array(CITIES)[rng.integers(0, len(CITIES), len(ids))]
    for d in days:
        ds = str(d)
        m = day == d
        sep, enc, header = DIALECTS[int(rng.integers(0, len(DIALECTS)))]
        n_bad = int(rng.integers(3, 13))
        cols = [ids[m].astype(str), fmt_ts(ts[m]), users[m].astype(str),
                ev.column("event_type").to_numpy(zero_copy_only=False)[m],
                np.char.mod("%.2f", ev.column("value").to_numpy()[m]),
                ev.column("props").to_numpy(zero_copy_only=False)[m],
                city[m], np.full(m.sum(), ds)]
        lines = [sep.join(r) for r in zip(*cols)]
        # a corrupt row carries more fields than the declared columns
        for k in range(n_bad):
            pos = int(rng.integers(0, len(lines) + 1))
            lines.insert(pos, sep.join(["bad", str(k)] + ["x"] * 9))
        body = ("\n".join(([sep.join(CSV_COLUMNS)] if header else [])
                          + lines) + "\n")
        path = os.path.join(work, "days", f"{ds}.csv")
        with open(path, "wb") as f:
            f.write(body.encode(enc))
        meta["days"][ds] = {"sep": sep, "encoding": enc, "header": header,
                            "corrupt": n_bad, "rows": int(m.sum()),
                            "bytes": len(body.encode(enc))}
    requests = consult_requests(rng)
    warm = days[DAYS]
    meta["warm_day"] = str(warm)
    on_warm = day == warm
    picks = rng.choice(ids[on_warm], 20, replace=False)
    meta["corrections"]["cw"] = {
        str(int(e)): round(float(v), 2)
        for e, v in zip(picks, rng.exponential(50.0, 20))}
    u = int(rng.choice(users[on_warm]))
    meta["forget"]["fw"] = [int(e) for e in ids[on_warm & (users == u)]]
    days = days[:DAYS]
    ops = []
    for i, d in enumerate(days):
        ds = str(d)
        seen = day <= d
        # late corrections: new trip values for 20 ingested events
        picks = rng.choice(ids[seen], 20, replace=False)
        meta["corrections"][f"c{i}"] = {
            str(int(e)): round(float(v), 2)
            for e, v in zip(picks, rng.exponential(50.0, 20))}
        # right to be forgotten: every ingested event of one user
        u = int(rng.choice(users[seen]))
        meta["forget"][f"f{i}"] = [int(e) for e in ids[seen & (users == u)]]
        lo = str(days[int(rng.integers(0, i + 1))])
        # every day is one round with the same kinds in the same order:
        # each write op, then three consultations, so that any run times
        # the same mix; the day's twelve cover the whole catalogue
        writes = [("ingest_day", ds), ("redeliver_day", ds),
                  ("correct", f"c{i}"), ("forget_user", f"f{i}")]
        for j, w in enumerate(writes):
            ops.append(w)
            ops.extend(("consult", 3 * j + k) for k in range(3))
        ops += [("lake_read", "gold", lo, ds), ("lake_read", "gravity", lo, ds),
                ("compact",), ("vacuum",)]
    write_ops(work, ops)
    meta["requests"] = [list(r) for r in requests]
    return meta


def consult_requests(rng):
    """The consultation catalogue: seeded date windows and top-N for the
    infrastructure-gap consultation, the gold profiles, and ad-hoc
    catalog queries. Each is checked once, then repeated in the stream."""
    days = np.arange(np.datetime64("2024-01-01"), np.datetime64("2024-01-31"))
    gold = ["hourly", "weekday_weekend", "tier_summary", "od_matrix", "pivot"]
    adhoc = ["q3_topn", "q5_join", "q18_having", "sess_gap_sessions"]
    reqs = []
    for i in range(5):
        if i < 3:
            lo = int(rng.integers(0, 20))
            hi = int(rng.integers(lo + 5, 30))
            reqs.append(("top_gaps", str(days[lo]), str(days[hi]),
                         int(rng.integers(5, 21))))
        reqs.append(("gold", gold[i]))
        if i < 4:
            reqs.append(("adhoc", adhoc[i]))
    return reqs


def curation(repo, cache, work, rng):
    docs = pq.read_table(os.path.join(
        gen_sf(repo, cache, CORPUS_SF, "--open-vocab", "--docs-only"),
        "documents.parquet"))
    keep_docs = np.sort(rng.choice(docs.num_rows, DOC_SUBSET,
                                   replace=False))
    pq.write_table(docs.take(pa.array(keep_docs)),
                   os.path.join(work, "documents.parquet"),
                   row_group_size=256)
    emb = pq.read_table(os.path.join(
        gen_sf(repo, cache, EMB_SF, "--emb-only"), "embeddings.parquet"))
    keep = np.sort(rng.choice(emb.num_rows, EMB_SUBSET, replace=False))
    emb = emb.take(pa.array(keep))
    pq.write_table(emb, os.path.join(work, "embeddings.parquet"),
                   row_group_size=256)
    # the index probe batch: held-out documents of the same pool, so the
    # ones that are near-copies of indexed documents pair against them
    held = np.setdiff1d(np.arange(docs.num_rows), keep_docs)
    probe = np.sort(rng.choice(held, PROBE_DOCS, replace=False))
    pq.write_table(docs.take(pa.array(probe)),
                   os.path.join(work, "probe.parquet"))
    q = rng.choice(emb.num_rows, N_QUERIES, replace=False)
    pq.write_table(emb.take(pa.array(np.sort(q))),
                   os.path.join(work, "queries.parquet"))
    names = ["exact", "jaccard", "minhash", "simhash", "ndi_build",
             "ndi_probe", "vec_build", "vec_topk"]
    ops = [(n,) for _ in range(12) for n in names]
    write_ops(work, ops)
    return {"docs": DOC_SUBSET, "vectors": EMB_SUBSET,
            "queries": N_QUERIES, "probe_docs": PROBE_DOCS}


WORKLOADS = {"daily_refresh": daily_refresh, "curation": curation}


def generate(repo, cache, workload, seed, work):
    os.makedirs(work, exist_ok=True)
    rng = np.random.default_rng([seed, 7919])
    meta = WORKLOADS[workload](repo, cache, work, rng)
    meta["seed"] = seed
    meta["workload"] = workload
    with open(os.path.join(work, "inputs.json"), "w") as f:
        json.dump(meta, f)
    return meta


if __name__ == "__main__":
    if len(sys.argv) != 6:
        sys.exit("usage: gen.py <repo> <cache_dir> <workload> <seed> <work_dir>")
    generate(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]),
             sys.argv[5])
