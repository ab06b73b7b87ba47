"""Default-path smoke tests for the near-dup ingest lake: crash/heal
replay on a few-doc lake, and a pin on the Spark jobs one ingest +
maintenance operation launches. The full lake-lifecycle battery lives in
``test_corpus_pipeline.py`` (marked ``slow``)."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

from projet_big_data_boutin_danre_spark.corpus_pipeline import (
    incremental_ingest,
    maintain_lake,
)
from projet_big_data_boutin_danre_spark.operators import dedup

_BASE = (
    "the quick brown fox jumps over the lazy dog while the rain in "
    "spain falls mainly on the plain and a stitch in time saves nine "
    "for every good boy does fine across the wide river delta"
)
_OTHER = (
    "seven silent herons wade through cold marsh water at dawn while "
    "distant church bells count the hours over empty harvest fields"
)
_NOVEL_A = (
    "a copper kettle hums on the iron stove as the baker folds rye "
    "dough and the market square fills with carts of winter apples"
)
_NOVEL_B = (
    "engineers tune the old lighthouse lens so its beam sweeps past "
    "the reef where fishing boats anchor before the autumn storms"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _history(spark):
    return _docs(spark, [(1, _BASE), (2, _OTHER)])


def _arrivals(spark):
    # two novels, a near-dup of history doc 1, an exact copy of novel 3
    return _docs(
        spark,
        [
            (3, _NOVEL_A),
            (4, _NOVEL_B),
            (5, _BASE.replace("fox", "wolf")),
            (6, _NOVEL_A),
        ],
    )


def _ids(spark, path, col="doc_id"):
    return sorted(r[0] for r in spark.read.parquet(path).select(col).collect())


def _drop_new_files(layer: str, before: set[str]) -> None:
    """Remove the files an append added to ``layer`` since ``before``:
    the state a crash leaves when that append never landed."""
    for name in set(os.listdir(layer)) - before:
        if not name.startswith("_"):
            os.remove(os.path.join(layer, name))


def test_near_dup_replay_heals_crashed_sidecar_appends(spark, tmp_path):
    root = str(tmp_path / "lake")
    assert incremental_ingest(spark, _history(spark), root, near_dup=True)[
        "admitted"
    ] == 2
    before = {
        layer: set(os.listdir(f"{root}/{layer}"))
        for layer in ("fingerprints", "band_buckets")
    }
    first = incremental_ingest(spark, _arrivals(spark), root, near_dup=True)
    assert first == {
        "arrived": 4, "admitted": 2, "healed_fingerprints": 0,
        "total_docs": 4, "near_dup_skipped": 1, "near_dup_blocked": 1,
        "near_dup_rescued": 0, "healed_bands": 0,
    }
    landed = str(tmp_path / "landed")
    shutil.copytree(root, landed)

    # crash after the docs append: fingerprint and band rows both lost
    for layer in ("fingerprints", "band_buckets"):
        _drop_new_files(f"{root}/{layer}", before[layer])
    assert _ids(spark, f"{root}/fingerprints") == [1, 2]
    replay = incremental_ingest(spark, _arrivals(spark), root, near_dup=True)
    assert replay["admitted"] == 0
    assert replay["healed_fingerprints"] == 2
    assert replay["healed_bands"] == 2
    assert replay["near_dup_skipped"] == 1
    assert _ids(spark, f"{root}/docs") == [1, 2, 3, 4]
    assert _ids(spark, f"{root}/fingerprints") == [1, 2, 3, 4]
    assert sorted(set(_ids(spark, f"{root}/band_buckets", "id"))) == [1, 2, 3, 4]

    # a healthy re-send: no heal, nothing admitted, the lake unchanged
    resend = incremental_ingest(spark, _arrivals(spark), root, near_dup=True)
    assert resend["admitted"] == 0
    assert resend["healed_fingerprints"] == 0
    assert resend["healed_bands"] == 0
    assert resend["total_docs"] == 4
    assert _ids(spark, f"{root}/docs") == [1, 2, 3, 4]
    assert _ids(spark, f"{root}/fingerprints") == [1, 2, 3, 4]

    # crash after the fingerprint append: only the band rows are lost
    _drop_new_files(f"{landed}/band_buckets", before["band_buckets"])
    replay_b = incremental_ingest(
        spark, _arrivals(spark), landed, near_dup=True
    )
    assert replay_b["admitted"] == 0
    assert replay_b["healed_fingerprints"] == 0
    assert replay_b["healed_bands"] == 2
    assert sorted(set(_ids(spark, f"{landed}/band_buckets", "id"))) == [
        1, 2, 3, 4,
    ]
    # the healed band layer blocks a fresh near-dup of a healed doc
    probe = incremental_ingest(
        spark,
        _docs(spark, [(9, _NOVEL_B.replace("reef", "rocks"))]),
        landed,
        near_dup=True,
    )
    assert probe["admitted"] == 0 and probe["near_dup_skipped"] == 1


def _jobs(spark, group: str, fn, *args, **kwargs):
    """Run ``fn`` under job group ``group``; return (result, jobs it ran)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(group))
    sc.setJobGroup(group, group)
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(set(tracker.getJobIdsForGroup(group)) - before)


# Job ceilings of one near-dup ingest into a 1-batch history and of the
# maintenance sweep after it (compacting docs, fingerprints and bands),
# on the local[4] test session, where they run 40-41 and 18 jobs. Each
# job costs a fixed slice of driver and executor CPU however few rows it
# reads, so on this write path the count, not the data, sets the cost.
INGEST_MAX_JOBS = 44
MAINTAIN_MAX_JOBS = 20


def test_ingest_and_maintain_job_counts_pinned(spark, tmp_path):
    root = str(tmp_path / "lake")
    incremental_ingest(spark, _history(spark), root, near_dup=True)
    batch = _docs(
        spark,
        [
            (1, _BASE),  # re-sent: the id guard drops it
            (3, _NOVEL_A),
            (4, _NOVEL_B),
            (5, _BASE.replace("fox", "wolf")),  # near-dup of history
            (6, _NOVEL_A),  # exact copy of 3
            (7, _NOVEL_B.replace("reef", "rocks")),  # within-batch near-dup
        ],
    )
    batch.count()  # leave the input's own jobs out of the group
    out, n_ingest = _jobs(
        spark, "pin-ingest", incremental_ingest, spark, batch, root,
        near_dup=True,
    )
    assert out["admitted"] == 2 and out["near_dup_skipped"] == 2
    assert out["healed_fingerprints"] == 0 and out["healed_bands"] == 0
    res, n_maintain = _jobs(
        spark, "pin-maintain", maintain_lake, spark, root,
        compact_above_files=1,
    )
    assert res["compacted_layers"] == 3
    assert n_ingest <= INGEST_MAX_JOBS, n_ingest
    assert n_maintain <= MAINTAIN_MAX_JOBS, n_maintain
    assert _ids(spark, f"{root}/docs") == [1, 2, 3, 4]


def test_small_graph_components_report_non_keepers(spark):
    """The small-graph path counts non-keepers on the driver; the count
    equals the distributed ``node != component`` filter, for integral
    and string ids alike."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (5, 5)]
    for cast in ("long", "string"):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long").select(
            F.col("id_a").cast(cast).alias("id_a"),
            F.col("id_b").cast(cast).alias("id_b"),
        )
        stats: dict = {}
        members = dedup.connected_components(pairs, stats=stats)
        distributed = members.filter(
            F.col("node") != F.col("component")
        ).count()
        assert stats["non_keepers"] == distributed == 5
    # the star loop reports no driver-side count, even into a reused dict
    dedup.connected_components(
        pairs, stats=stats, small_graph_threshold=None
    )
    assert "non_keepers" not in stats
