#!/usr/bin/env python3
"""Runs the benchmark's self-tests from the root of a checkout:

  python3 perfbench/tests/run_selftests.py

the Python checks' tests (test_checks.py), then the JVM ones
(SelfTest.scala), built like the benchmark itself. Exit code 0 when all
pass.
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import gen  # noqa: E402
import run  # noqa: E402


def main():
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    root = os.getcwd()
    jars = run.spark_jars(root)
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classpath = run.build(root, build_dir, jars)
    tests = run.compiled(build_dir, jars, "selftest", HERE, classpath[:-1])
    base = gen.gen_sf(root, build_dir, gen.BASE_SF)
    work = os.path.join(build_dir, "work", "selftest")
    os.makedirs(work, exist_ok=True)
    r = subprocess.run(run.java_cmd([tests] + classpath, work,
                                    "perfbench.SelfTest", [base]),
                       cwd=work, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    print(r.stdout, end="")
    ok = ok and r.returncode == 0
    print("self-tests", "passed" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
