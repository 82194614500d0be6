#!/usr/bin/env python3
"""Compare benchmark records of two builds, refusing foreign baselines.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds records as run.py appends them (<build dir>/results/
records.jsonl). Records are grouped by (workload, trace); the script prints
each metric's median on both sides and the change in percent. It refuses
(exit 2) when any baseline record was taken on a host with another cpu
count or another local[N] than the new records: a number measured at
local[32] is no floor for a 4-core run.
"""

import argparse
import json
import statistics
import sys


class Refused(Exception):
    pass


def check_comparable(base, new):
    hb, hn = base["host"], new["host"]
    for key in ("nproc", "master"):
        if hb.get(key) != hn.get(key):
            raise Refused("baseline %s cpu key %s=%s differs from new %s=%s"
                          % (base["workload"], key, hb.get(key), key, hn.get(key)))


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def grouped(records):
    out = {}
    for r in records:
        out.setdefault((r["workload"], r["trace"]), []).append(r)
    return out


def main(argv):
    ap = argparse.ArgumentParser(description="compare two sets of benchmark records")
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)
    base, new = grouped(load(args.base)), grouped(load(args.new))
    try:
        for key in sorted(set(base) & set(new)):
            for b in base[key]:
                for n in new[key]:
                    check_comparable(b, n)
    except Refused as e:
        print("compare: refused: %s" % e, file=sys.stderr)
        return 2
    for key in sorted(set(base) & set(new)):
        print("== %s trace=%d  (%d base, %d new records)" % (key[0], key[1], len(base[key]),
                                                            len(new[key])))
        names = sorted(set.intersection(*(set(r["metrics"]) for r in base[key] + new[key])))
        for m in names:
            vb = statistics.median(r["metrics"][m]["value"] for r in base[key])
            vn = statistics.median(r["metrics"][m]["value"] for r in new[key])
            unit = new[key][0]["metrics"][m]["unit"]
            delta = "%+.1f%%" % (100.0 * (vn / vb - 1.0)) if vb else "n/a"
            print("  %-34s %14.6g -> %14.6g %-6s %s" % (m, vb, vn, unit, delta))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
