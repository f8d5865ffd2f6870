"""Connected components over the similarity graph (canonicalization).

One algorithm: the alternating large-star / small-star rounds of
Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC'14). Each round rewires every edge toward the smaller end of its
neighbourhood, so a component of diameter d collapses in O(log d)
rounds, and a long chain needs few of them.

- large star: every vertex links its strictly larger neighbours to the
  minimum of its closed neighbourhood;
- small star: every vertex links itself and its smaller neighbours to
  the minimum of that set.

Exit test. The loop stops when the mirrored edge set is a forest of
stars centred on their minimum: every vertex either has only larger
neighbours (a centre) or exactly one neighbour, smaller than itself (a
leaf). Each vertex's label is then the least of itself and its
smallest neighbour, so the output is component = min id, isolated
``vertices`` and self-loop-only vertices labelling themselves. The
test is one window over the ``a``-partitioned edge table, counted
through ``observe`` by the very job that checkpoints the table, and it
runs before round 1: a graph that already is a star forest (disjoint
pairs, say) takes zero rounds; cliques such as duplicate clusters of
four take one.

The round cap ``MAX_ROUNDS`` only guards against a broken invariant
(a path of 3000 shuffled ids takes 10 rounds); hitting it raises
``RuntimeError`` rather than returning a partial labeling.

Scale notes:
- every round is two hash shuffles on ``a`` plus the checkpointing
  job; the loop's width is sized from the first check's row count
  (~250k mirrored edge rows per partition, floored at 4, capped at the
  session width), not the session's data-sized width, because task
  launch dominates rounds over a small edge set. Explicit
  ``repartition(p, "a")``, not a conf set, so a job planning
  concurrently (the pipeline overlaps CC with the triples write) never
  sees a narrowed setting;
- ``localCheckpoint`` each round cuts the growing plan lineage
  (SURVEY §7.4.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

MAX_ROUNDS = 64
_ROWS_PER_PARTITION = 250_000


def _pairs(*pairs: tuple[Column, Column]) -> Column:
    """Column expression exploding each (a, b) column pair to a row."""
    return F.explode(
        F.array(*[F.struct(x.alias("a"), y.alias("b")) for x, y in pairs])
    ).alias("e")


def _checkpoint(und: DataFrame, p: int | None) -> tuple[DataFrame, dict]:
    """Deduplicate ``und`` on (a, b), annotate every row with the min
    (``lo``) and max (``hi``) of a's neighbours other than itself, and
    checkpoint it. The checkpointing job also returns the row count and
    the number of vertices off a star (``loose``); a vertex's row with
    ``b == lo`` is unique, so counting on it counts vertices."""
    part = und.repartition(p, "a") if p else und.repartition("a")
    a, b = F.col("a"), F.col("b")
    nbr = F.when(b != a, b)
    w = Window.partitionBy("a")
    ann = part.distinct().select(
        "a", "b", F.min(nbr).over(w).alias("lo"), F.max(nbr).over(w).alias("hi")
    )
    lo, hi = F.col("lo"), F.col("hi")
    star = (lo > a) | ((hi < a) & (lo == hi))
    obs = Observation()
    ann = ann.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when((b == lo) & ~star, 1)).alias("loose"),
    ).localCheckpoint(eager=True)
    return ann, obs.get


def _round(ann: DataFrame, p: int) -> DataFrame:
    """One large-star then one small-star step, mirrored for the next
    check. Large-star edges always point larger -> smaller, so grouping
    them on ``a`` gives each vertex its smaller neighbours, which is all
    the small star reads."""
    a, b, m = F.col("a"), F.col("b"), F.col("m")
    ls = ann.where(b > a).select(b.alias("a"), F.least(a, "lo").alias("b"))
    ss = ls.repartition(p, "a").withColumn(
        "m", F.min("b").over(Window.partitionBy("a"))
    )
    return (
        ss.select(_pairs((b, m), (m, b), (a, m), (m, a)))
        .select("e.*")
        .where(a != b)
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Return (id, component) with component = min id in the component.

    ``edges`` is treated as undirected; a self-loop ``(v, v)`` labels
    ``v`` even when it has no other edge. ``vertices`` (single column
    ``id``) optionally adds isolated vertices. Raises ``RuntimeError``
    when the graph is still not a star forest after ``MAX_ROUNDS``."""
    a, b = F.col(src), F.col(dst)
    und = edges.select(_pairs((a, b), (b, a))).select("e.*")
    if vertices is not None:
        # isolated vertices ride along as self-loops
        v = F.col("id")
        und = und.unionByName(vertices.select(v.alias("a"), v.alias("b")))
    first, stats = _checkpoint(und, None)
    sess_w = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    p = max(4, min(sess_w, stats["rows"] // _ROWS_PER_PARTITION + 1))

    ann, rounds = first, 0
    while stats["loose"]:
        if rounds == MAX_ROUNDS:
            raise RuntimeError(
                f"connected_components: {stats['loose']} vertices are not on a "
                f"star after {rounds} rounds"
            )
        ann, stats = _checkpoint(_round(ann, p), p)
        rounds += 1

    # one row per vertex: its row on its smallest neighbour, or, for a
    # vertex with no neighbour but itself, its self-loop in the first
    # table (rounds never carry such vertices, so the two are disjoint)
    return (
        ann.where(F.col("b") == F.col("lo"))
        .select(F.col("a").alias("id"), F.least("a", "lo").alias("component"))
        .unionByName(
            first.where(F.col("lo").isNull()).select(
                F.col("a").alias("id"), F.col("a").alias("component")
            )
        )
    )
