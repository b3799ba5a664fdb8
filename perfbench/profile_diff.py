"""Compare two traced runs and flag structural regressions.

    python3 perfbench/profile_diff.py BASE.json NEW.json

Both files are side files written by `run.py --trace 1`
(`.bench_build/perfbench/trace-<workload>-<seed>.json`). Structural counters
-- Spark jobs, table-loader jobs, shuffle bytes, tile fetches, XML reads --
repeat from run to run, unlike wall times on a shared host, so an increase
is flagged: per pass, and per operation (register queries are compared one
by one). Counts must not grow at all. Shuffle bytes are compressed sizes,
which depend on the order rows reach a block, so they may grow by up to
`BYTES_SLACK` (two traced osm_region runs of one seed differed by 0.7%). Timings are printed for reference only. Exit status
is 1 if anything was flagged.
"""

import json
import re
import statistics
import sys

STRUCTURAL = ["exec.jobs", "Tables.jobs", "exec.shuffle_write_bytes",
              "exec.shuffle_read_bytes", "raster.tile_fetches.z12",
              "raster.tile_fetches.z15", "osm.xml_reads"]
TIMINGS = ["exec.task_s", "exec.idle_s", "queries.build_s", "pipeline.import_s",
           "pipeline.enrich_s", "ops.Upsert.write_s"]
# Relative slack for counters that are exact in principle but are computed
# as ratios of floating sums.
EPS = 1e-9
BYTES_SLACK = 0.02


def increased(key, base, new):
    slack = BYTES_SLACK if key.endswith("_bytes") else EPS
    return new > base * (1 + slack) + EPS


def per_operation(side):
    """Median counters per operation name (the pass prefix stripped)."""
    groups = {}
    for o in side["operations"]:
        groups.setdefault(re.sub(r"^\d+\.\d+\.", "", o["op"]), []).append(o["counters"])
    return {name: {k: statistics.median(c[k] for c in cs) for k in cs[0]}
            for name, cs in groups.items()}


def main(base_path, new_path):
    base, new = (json.load(open(p)) for p in (base_path, new_path))
    if base["workload"] != new["workload"]:
        raise SystemExit("different workloads: %s vs %s" % (base["workload"], new["workload"]))
    flagged = []
    print("%-28s %16s %16s" % ("per pass", "base", "new"))
    for k in STRUCTURAL + TIMINGS:
        b, n = base["per_layer"][k]["value"], new["per_layer"][k]["value"]
        mark = ""
        if k in STRUCTURAL and increased(k, b, n):
            mark = "  <-- increased"
            flagged.append(k)
        print("%-28s %16.6g %16.6g%s" % (k, b, n, mark))
    bo, no = per_operation(base), per_operation(new)
    for op in sorted(set(bo) & set(no)):
        for k in STRUCTURAL:
            if k in bo[op] and increased(k, bo[op][k], no[op][k]):
                print("%s %s: %g -> %g  <-- increased" % (op, k, bo[op][k], no[op][k]))
                flagged.append(op + " " + k)
    t_b, t_n = base["tracing"], new["tracing"]
    print("untraced pass_s: %.3f -> %.3f s (timing, not flagged)"
          % (t_b["untraced_pass_s"], t_n["untraced_pass_s"]))
    print("%d structural increase(s)" % len(flagged))
    return 1 if flagged else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
