"""Interleaved same-session-less A/B of session configs over a query subset.

Window drift on this box is 1.5-2x within an hour, so config A/Bs must
interleave: for each config variant we spawn a fresh package session
(``session.get_spark``), set the variant's confs on it, run the subset, tear
down, and CYCLE A/B/A/B so both variants sample the same windows. Only
runtime-modifiable SQL confs can vary; any other conf fails the variant.
Reports per-variant per-cycle totals.

Usage: python tools/ab_configs.py '<json_conf_a>' '<json_conf_b>' q1 q2 ...
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r'''
import json, os, sys, time
sys.path.insert(0, %(repo)r)
extra = json.loads(sys.argv[1])
names = json.loads(sys.argv[2])
from twilio_event_streams_reporting_example_spark.session import get_spark
spark = get_spark("ab")
for k, v in extra.items():
    # a static or unknown conf would be ignored at runtime: fail the variant
    if not spark.conf.isModifiable(k):
        sys.exit(f"conf {k} cannot be changed at runtime")
    spark.conf.set(k, v)
from twilio_event_streams_reporting_example_spark.registry import all_queries, release_caches
def force(df): df.write.format("noop").mode("overwrite").save()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
force(spark.read.parquet(f"{sf_dir}/region.parquet"))
qs = all_queries()
out = {}
for name in names:
    runs = []
    for rep in range(2):
        t0 = time.perf_counter(); force(qs[name].fn(spark, sf_dir))
        runs.append(round(time.perf_counter() - t0, 3))
        release_caches(); spark.catalog.clearCache()
    out[name] = runs
spark.stop()
print("\nABRESULT " + json.dumps(out))
'''


def run_variant(conf: dict, names: list) -> dict:
    code = _CHILD % {"repo": REPO}
    r = subprocess.run(
        [sys.executable, "-c", code, json.dumps(conf), json.dumps(names)],
        capture_output=True, text=True, cwd=REPO, timeout=1800,
    )
    for line in r.stdout.splitlines():
        if r.returncode == 0 and line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    print(r.stdout[-2000:], r.stderr[-2000:], file=sys.stderr)
    raise RuntimeError(f"variant {conf} failed (exit {r.returncode})")


def main():
    conf_a = json.loads(sys.argv[1])
    conf_b = json.loads(sys.argv[2])
    names = sys.argv[3:]
    cycles = int(os.environ.get("AB_CYCLES", "3"))
    for c in range(cycles):
        for tag, conf in (("A", conf_a), ("B", conf_b)):
            res = run_variant(conf, names)
            tot = sum(min(v) for v in res.values())
            print(f"cycle{c} {tag} total_min={tot:.2f} {json.dumps(res)}", flush=True)


if __name__ == "__main__":
    main()
