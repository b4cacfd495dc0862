"""Sample-DAG lineage traversal — the one operator Spark lacks natively.

The reference walks parent chains imperatively: an unbounded while-loop per
sample (`fetchSource`, reporting-plugins/get-experimental-design-tsv/
script.py:16-34) and bounded 2-hop walks (register-mtb-data-dropbox.py:645-724).
Spark 3.x/4.x has no recursive CTE, so we implement an *iterative join to
fixpoint*: at each hop the surviving frontier re-joins the edge table, and
rows whose ancestor has no outgoing edge are emitted as roots.  The frontier
is `localCheckpoint`ed each hop to keep the plan linear in size (not
exponential), and shrinks monotonically — at 100 TB this runs hop-count jobs
over an ever-smaller frontier, with the edge table hash-partitioned once on
`child_code` and reused by every hop's join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import next_round


def parent_map(codes: DataFrame, edges: DataFrame, code_col: str = "code") -> DataFrame:
    """1-hop child→parents expansion (reporting-plugins/get-parentmap/script.py:21-26)."""
    return (
        codes.join(edges, codes[code_col] == edges["child_code"], "inner")
        .select(edges["child_code"], edges["parent_code"])
    )


def ancestors_to_root(edges: DataFrame, max_hops: int = 20) -> DataFrame:
    """Resolve every node's terminal ancestor: (child_code, root_code, depth).

    Nodes that appear only as parents (true roots) are not emitted — matching
    the reference, whose loop starts from a child sample.  Cycle guard =
    `max_hops` cap (SURVEY §7.3 hard part (b)).
    """
    # Edge table is reused every hop: mark it broadcastable if small, else it
    # should arrive hash-partitioned on child_code from the caller.
    parents_of = edges.select(
        F.col("child_code").alias("_anc_child"), F.col("parent_code").alias("_anc_parent")
    )
    frontier = edges.select(
        "child_code", F.col("parent_code").alias("anc"), F.lit(1).alias("depth")
    )
    results: list[DataFrame] = []
    for _ in range(max_hops):
        stepped = frontier.join(parents_of, frontier["anc"] == parents_of["_anc_child"], "left")
        results.append(
            stepped.filter(F.col("_anc_parent").isNull())
            .select("child_code", F.col("anc").alias("root_code"), "depth")
        )
        # prev=None: each frontier is read by its hop's slice in the returned
        # union; the checkpoint's own job counts the new frontier
        frontier, (n, _h) = next_round(
            stepped.filter(F.col("_anc_parent").isNotNull()).select(
                "child_code",
                F.col("_anc_parent").alias("anc"),
                (F.col("depth") + 1).alias("depth"),
            ),
            None,
            ["child_code", "anc", "depth"],
        )
        if n == 0:
            break
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out

