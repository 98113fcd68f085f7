"""Long-horizon iterative-graph durability probe (r11 verdict next-round #5).

Reliable checkpoints are CI-exercised at test size (tests/test_graph.py) and
the BPE fits are measured at 100 rounds, but the graph iteratives
(event_chain_closure's BFS, pagerank_trade_network) had no committed
long-horizon record. This probe runs BOTH at sf1 for 30+ iterations and
records, per iteration, the wall-clock of the lineage cut + materialization
(the iter_checkpoint call — where exponential-lineage bugs would show as
super-linear growth), plus:

* the FINAL RESULT HASH, so the reliable-checkpoint run can be compared
  bit-for-bit against the localCheckpoint run (integer fixed-point PageRank
  and BFS depths must be identical under either durability mode);
* the session's checkpoint directory path, so the wrapper can verify it is
  removed at interpreter exit (zero litter).

PageRank is extended from its registered 3 iterations to `iters` by
overriding the module constant — the loop body is the PRODUCTION one
(operators/graph.py), not a probe-local reimplementation. BFS depth is
extended the same way via bfs_closure(max_depth=iters); the sf1 event chains
are hundreds of events long, so the frontier stays non-empty past 30 hops.

Usage: SPARK_GRAFT_RELIABLE_CKPT=1 python tools/long_graph_probe.py \
           [pagerank|closure] [iters] [sf_dir]
Prints one JSON line: {"op", "mode", "iters", "iter_walls", "rows",
"result_md5", "ckpt_dir"}.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, ".")

OP = sys.argv[1] if len(sys.argv) > 1 else "pagerank"
ITERS = int(sys.argv[2]) if len(sys.argv) > 2 else 30
SF_DIR = sys.argv[3] if len(sys.argv) > 3 else "/tmp/testdata_sf1"

from ai_metadata_lineage_pyspark_spark.operators import graph as graph_mod  # noqa: E402
from ai_metadata_lineage_pyspark_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("long-graph-probe")
    walls: list[float] = []

    def timed(cut):
        def timed_cut(*args, **kwargs):
            t0 = time.time()
            out = cut(*args, **kwargs)
            walls.append(round(time.time() - t0, 3))
            return out

        return timed_cut

    # BFS rounds cut through counted_checkpoint, which also materializes
    graph_mod.iter_checkpoint = timed(graph_mod.iter_checkpoint)
    graph_mod.counted_checkpoint = timed(graph_mod.counted_checkpoint)
    if OP == "pagerank":
        graph_mod._PR_ITERS = ITERS
        df = graph_mod.pagerank_trade_network(spark, SF_DIR)
    else:
        from ai_metadata_lineage_pyspark_spark.functions.io import load_events
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        events = load_events(spark, SF_DIR)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts_us").asc(), F.col("event_id").asc()
        )
        edges = (
            events.select("event_id", F.lead("event_id").over(w).alias("dst"))
            .filter(F.col("dst").isNotNull())
            .select(F.col("event_id").alias("src"), "dst")
        )
        seeds = events.filter(F.col("event_id") % 97 == 0).select(
            F.col("event_id").alias("seed")
        )
        df = graph_mod.bfs_closure(graph_mod.prepare_edges(edges), seeds, max_depth=ITERS)

    rows = sorted(tuple(str(v) for v in r) for r in df.collect())
    digest = hashlib.md5("\n".join("\x1f".join(r) for r in rows).encode()).hexdigest()
    print(
        json.dumps(
            {
                "op": OP,
                "mode": "reliable"
                if os.environ.get("SPARK_GRAFT_RELIABLE_CKPT") == "1"
                else "local",
                "iters": ITERS,
                "iter_walls": walls,
                "rows": len(rows),
                "result_md5": digest,
                "ckpt_dir": spark.sparkContext.getCheckpointDir(),
            }
        )
    )


if __name__ == "__main__":
    main()
