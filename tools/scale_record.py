#!/usr/bin/env python3
"""Merge the Bench + ScaleCheck logs of one scale round into SCALE_r<round>.json.

Usage: scale_record.py <round> <protocol note>

Reads every pass tools/scale_run.sh left for the round,
/tmp/{bench,sc}_sf{01,1}_r<round>_<pass>.out, and writes SCALE_r<round>.json
at the repo root. Every entry at both scales (sf0.1 and the ScaleGen x10
fixture) is its minimum over the passes that succeeded; a negative entry is
a failed probe and loses to any pass that succeeded. Bench's totals are
recomputed over the merged non-negative headline entries. The ratio map
divides each ScaleCheck entry at x10 by the same entry at sf0.1.
"""
import glob
import json
import os
import sys

LOG_DIR = "/tmp"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_json(path, metric):
    """The last parseable `{"metric":<metric>,...}` line of a log; sbt's
    `[info] ` prefix is stripped."""
    out = None
    with open(path, errors="replace") as f:
        for line in f:
            line = line.strip()
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            if line.startswith("{") and f'"metric":"{metric}"' in line:
                try:
                    out = json.loads(line)
                except json.JSONDecodeError:
                    pass
    if out is None:
        raise SystemExit(f"no {metric} JSON line in {path}")
    return out


def min_merge(a, b):
    """Per-entry minimum of two records of the same shape; a negative
    number is a failed probe. Keys present in either record are kept."""
    if isinstance(a, dict) and isinstance(b, dict):
        return {k: min_merge(a[k], b[k]) if k in a and k in b else a.get(k, b.get(k))
                for k in {**a, **b}}
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if a < 0:
            return b
        if b < 0:
            return a
        return min(a, b)
    return a


def succeeded_sum(entries):
    return sum(v for v in entries.values() if v >= 0)


def load(prefix, metric):
    """Min-merge of every `<prefix>_<pass>.out`, in pass order."""
    paths = sorted(glob.glob(f"{prefix}_*.out"),
                   key=lambda p: int(p[len(prefix) + 1:-len(".out")]))
    if not paths:
        raise SystemExit(f"no {prefix}_<pass>.out logs")
    m = last_json(paths[0], metric)
    for p in paths[1:]:
        m = min_merge(m, last_json(p, metric))
    if metric == "total":
        m["value"] = m["total_sec"] = succeeded_sum(m["queries"])
        if "cbo_ab" in m:
            m["cbo_ab"]["off_total"] = m["value"]
            m["cbo_ab"]["on_total"] = succeeded_sum(m["cbo_ab"]["on_queries"])
    return m


def ratios(small, big):
    """x10 / sf0.1 per entry, for entries that succeeded at both scales."""
    return {k: round(big[k] / small[k], 3)
            for k in big if small.get(k, 0) > 0 and big[k] >= 0}


def record(rnd, protocol, log_dir=LOG_DIR):
    def scale(sf):
        return {"bench": load(f"{log_dir}/bench_sf{sf}_r{rnd}", "total"),
                "scalecheck": load(f"{log_dir}/sc_sf{sf}_r{rnd}", "scalecheck")}
    small, big = scale("01"), scale("1")
    return {
        "metric": "scale_check_x10",
        "protocol": protocol,
        "sf0_1": small,
        "sf1": big,
        "wallclock_ratio_10x_data": ratios(small["scalecheck"]["queries"],
                                           big["scalecheck"]["queries"]),
        "headline_total_ratio": round(big["bench"]["value"] / small["bench"]["value"], 3),
    }


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    rnd, protocol = sys.argv[1], sys.argv[2]
    out = record(rnd, protocol)
    dest = os.path.join(REPO, f"SCALE_r{rnd}.json")
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    print(dest)
    bench = out["sf0_1"]["bench"]
    print("headline sf0.1 (cbo off):", round(bench["value"], 3),
          "cbo on:", bench.get("cbo_ab", {}).get("on_total"))
    print("headline x10 ratio:", out["headline_total_ratio"])
    worst = sorted(out["wallclock_ratio_10x_data"].items(), key=lambda kv: -kv[1])[:8]
    print("worst x10 ratios:", worst)
    for sf in ("sf0_1", "sf1"):
        for side in ("bench", "scalecheck"):
            errors = out[sf][side].get("errors")
            if errors:
                print(f"failed probes ({sf} {side}):", errors)


if __name__ == "__main__":
    main()
