"""Incremental connected components (streaming/components.py):
batch-split invariance (the incremental labeling must equal a
from-scratch CC over the union of all edges, however the stream is
chopped), crash-safe versioned state, and the foreachBatch wiring."""

from pyspark.sql import functions as F

from deja_view_spark.operators.components import connected_components
from deja_view_spark.streaming.components import IncrementalComponents


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _full_cc(spark, pairs):
    return {
        r.id: r.component
        for r in connected_components(_edges_df(spark, pairs)).collect()
    }


def test_incremental_equals_batch_over_any_split(spark, tmp_path):
    """Three batches, including a bridge that merges two previously
    separate components: final labels == from-scratch CC."""
    b1 = [(1, 2), (2, 3)]          # component {1,2,3}
    b2 = [(10, 11), (11, 12)]      # component {10,11,12}
    b3 = [(3, 10), (20, 21)]       # bridge + a fresh component
    inc = IncrementalComponents(spark, str(tmp_path / "st"))
    for b in (b1, b2, b3):
        inc.apply_batch(_edges_df(spark, b))
    got = {r.id: r.component for r in inc.labels().collect()}
    assert got == _full_cc(spark, b1 + b2 + b3)
    # the merged component is rooted at the GLOBAL min (1), including
    # the nodes that joined via the old component 10
    assert got[12] == 1 and got[10] == 1 and got[3] == 1
    assert got[20] == 20 and got[21] == 20


def test_incremental_restart_resumes_from_pointer(spark, tmp_path):
    """A new instance over the same state dir sees the persisted
    labeling and keeps merging correctly (crash-safe pointer flip)."""
    st = str(tmp_path / "st")
    inc1 = IncrementalComponents(spark, st)
    m1 = inc1.apply_batch(_edges_df(spark, [(1, 2), (3, 4)]))
    assert m1["version"] == 1
    inc2 = IncrementalComponents(spark, st)
    assert inc2.current_version() == 1
    inc2.apply_batch(_edges_df(spark, [(2, 3)]))  # merges both
    got = {r.id: r.component for r in inc2.labels().collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_incremental_idempotent_reapply(spark, tmp_path):
    """Re-merging edges already in the labeling is a no-op on the
    labels (roots_merged = 0): the resume-after-crash double-apply."""
    inc = IncrementalComponents(spark, str(tmp_path / "st"))
    inc.apply_batch(_edges_df(spark, [(1, 2), (2, 3)]))
    before = {r.id: r.component for r in inc.labels().collect()}
    m = inc.apply_batch(_edges_df(spark, [(1, 2), (2, 3)]))
    assert m["roots_merged"] == 0
    after = {r.id: r.component for r in inc.labels().collect()}
    assert after == before


def test_incremental_stream_availablenow(spark, tmp_path):
    """The foreachBatch wiring drains a file stream (availableNow) and
    lands the same labeling as the batch union."""
    src = str(tmp_path / "in")
    pairs = [(1, 2), (2, 3), (10, 11), (3, 10)]
    _edges_df(spark, pairs[:2]).write.parquet(src + "/p1.parquet")
    _edges_df(spark, pairs[2:]).write.parquet(src + "/p2.parquet")
    stream = (
        spark.readStream.schema("src long, dst long")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    inc = IncrementalComponents(spark, str(tmp_path / "st"))
    q = inc.attach_stream(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {r.id: r.component for r in inc.labels().collect()}
    assert got == _full_cc(spark, pairs)
