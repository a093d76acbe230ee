#!/usr/bin/env python3
"""Measures how much count() under-times the consultation mix against
the full materialization the benchmark times, from a checkout's root:

  python3 perfbench/count_gap.py

Prints one JSON line per query (min of three warm runs each way, on
local[4] over the benchmark's base tables) and a total.
"""
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

root = os.getcwd()
jars = run.spark_jars(root)
build_dir = os.path.join(root, ".bench_build", "perfbench")
os.makedirs(build_dir, exist_ok=True)
classpath = run.build(root, build_dir, jars)
tools = run.compiled(build_dir, jars, "tools", os.path.join(HERE, "tools"),
                     classpath[:-1])
base = gen.gen_sf(root, build_dir, gen.BASE_SF)
work = os.path.join(build_dir, "work", "count_gap")
os.makedirs(work, exist_ok=True)
r = subprocess.run(run.java_cmd([tools] + classpath, work,
                                "perfbench.CountGap", [base]),
                   cwd=work, stdout=subprocess.PIPE,
                   stderr=subprocess.DEVNULL, text=True)
print(r.stdout, end="")
sys.exit(r.returncode)
