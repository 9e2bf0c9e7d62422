"""Interleaved A/B of one driver query between two checkouts.

Times a query from `qalsh_spark.queries.QUERIES` (default
`minhash_dedup_clusters`, the flagship dedup pipeline through connected
components) on one scale-factor directory, in a fresh process per run.
Runs come in pairs, one per checkout, and the side that runs first
alternates from pair to pair, so a slow host phase hits both sides alike.

Each process opens the session the benchmark harness uses below 10M docs
(`perfbench/run.py::start_session`): local[cores] with cores from
`os.sched_getaffinity`, AQE off, max(4 x cores, 16) shuffle partitions.
One warm-up run (code generation, page cache) is discarded, then one run
is timed.

Usage: python scripts/ab_flagship.py <checkout_a> <checkout_b> <sf_dir>
           [pairs=10] [query=minhash_dedup_clusters]
Prints each pair to stderr, then one JSON line: each side's walls, median
and quartiles, and the number of pairs in which B was faster.
"""
import json
import statistics
import subprocess
import sys

WORKER = r"""
import os, sys, time
sys.path.insert(0, os.getcwd())
from qalsh_spark import get_spark
cores = len(os.sched_getaffinity(0))
spark = get_spark(
    app_name="ab_flagship", master=f"local[{cores}]",
    shuffle_partitions=max(4 * cores, 16),
    extra_conf={"spark.sql.adaptive.enabled": "false",
                "spark.ui.showConsoleProgress": "false"},
)
spark.sparkContext.setLogLevel("ERROR")
from qalsh_spark.queries import QUERIES
query, sf = QUERIES[sys.argv[1]], sys.argv[2]
query(spark, sf).count()  # warm-up, discarded
t = time.perf_counter()
query(spark, sf).count()
print(f"WALL={time.perf_counter() - t:.3f}")
spark.stop()
"""


def run(checkout: str, query: str, sf: str) -> float:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, query, sf], cwd=checkout,
        capture_output=True, text=True, timeout=900,
    )
    for line in out.stdout.splitlines():
        if line.startswith("WALL="):
            return float(line[5:])
    raise RuntimeError(f"no WALL from {checkout}: {out.stderr[-500:]}")


def summary(walls: list[float]) -> dict:
    q1, median, q3 = statistics.quantiles(walls, n=4)
    return {"walls": walls, "median": median, "q1": q1, "q3": q3}


def main() -> None:
    a, b, sf = sys.argv[1:4]
    pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    query = sys.argv[5] if len(sys.argv) > 5 else "minhash_dedup_clusters"
    walls: dict[str, list[float]] = {a: [], b: []}
    for i in range(pairs):
        for side in ((a, b) if i % 2 == 0 else (b, a)):
            walls[side].append(run(side, query, sf))
        print(f"pair {i}: A {walls[a][-1]:.3f} s, B {walls[b][-1]:.3f} s",
              file=sys.stderr, flush=True)
    print(json.dumps({
        "query": query, "sf": sf, "pairs": pairs,
        "protocol": "fresh process per run, 1 warm-up + 1 timed, "
                    "side order alternating per pair",
        "A": {"checkout": a, **summary(walls[a])},
        "B": {"checkout": b, **summary(walls[b])},
        "B_faster_pairs": sum(y < x for x, y in zip(walls[a], walls[b])),
    }))


if __name__ == "__main__":
    main()
