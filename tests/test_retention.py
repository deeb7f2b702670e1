"""Compliance erasure over the manifest sink (sources/retention.py):
manifest-pruned targeted rewrites, exact-integer evidence, honest
interplay with pruned reads, the consistency audit, and snapshots."""

from pyspark.sql import functions as F

from superstore_data_pipeline_analytics_dashboard__spark.sources import (
    retention as R,
)
from superstore_data_pipeline_analytics_dashboard__spark.sources import (
    snapshots as SN,
)
from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
    read_pruned,
)
from superstore_data_pipeline_analytics_dashboard__spark.streaming.audit import (
    manifest_consistency_audit,
)
from tests.test_snapshots import _ids, _land_batch


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id BIGINT")


def _build(spark, tmp_path):
    """Range-clustered two-batch sink: envelopes [0,99] and [100,249] —
    the layout where zone-map pruning has something to prune."""
    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")
    _land_batch(spark, sink, man, 0, range(0, 100))
    _land_batch(spark, sink, man, 1, range(100, 250))
    return sink, man


def test_erase_rewrites_only_enveloped_batches(spark, tmp_path):
    sink, man = _build(spark, tmp_path)
    rep = {
        r["batch"]: r
        for r in R.erase_rows(
            spark, sink, man, "id", _keys(spark, [10, 20, 30])
        ).collect()
    }
    # batch 1's envelope [100,249] cannot contain the keys: untouched
    assert rep[0]["rewritten"] and not rep[1]["rewritten"]
    assert rep[0]["rows_erased"] == 3 and rep[1]["rows_erased"] == 0
    assert rep[0]["rows_after"] == 97 and rep[1]["rows_after"] == 150
    left = _ids(spark.read.parquet(sink))
    assert len(left) == 247 and not {10, 20, 30} & set(left)
    # the manifest was refreshed: stats cover 247 rows and a pruned
    # read around an erased key returns its surviving neighbors only
    stats = spark.read.parquet(man)
    assert sum(r["n_rows"] for r in stats.collect()) == 247
    got = _ids(read_pruned(spark, stats, "id", 9, 11))
    assert got == [9, 11]
    audit = manifest_consistency_audit(spark, sink, man).collect()[0]
    assert audit["consistent"]


def test_erase_misses_prune_everything(spark, tmp_path):
    sink, man = _build(spark, tmp_path)
    rep = R.erase_rows(spark, sink, man, "id", _keys(spark, [500, 777]))
    assert [r["rewritten"] for r in rep.collect()] == [False, False]
    assert len(_ids(spark.read.parquet(sink))) == 250


def test_erase_whole_batch_drops_its_manifest_rows(spark, tmp_path):
    sink, man = _build(spark, tmp_path)
    rep = {
        r["batch"]: r
        for r in R.erase_rows(
            spark, sink, man, "id", _keys(spark, range(0, 100))
        ).collect()
    }
    assert rep[0]["rows_after"] == 0 and rep[1]["rows_after"] == 150
    assert _ids(spark.read.parquet(sink)) == list(range(100, 250))
    stats = spark.read.parquet(man)
    assert sorted(set(r["batch"] for r in stats.collect())) == [1]
    audit = manifest_consistency_audit(spark, sink, man).collect()[0]
    assert audit["consistent"]


def test_erase_null_optout_key_raises(spark, tmp_path):
    """A NULL opt-out key would no-op silently through the
    null-rejecting envelope/anti joins — for a compliance delete that
    is the one unacceptable failure mode, so erase_rows refuses the
    whole list up front, before any rewrite touches the sink."""
    import pytest

    sink, man = _build(spark, tmp_path)
    keys = spark.createDataFrame([(5,), (None,)], "id BIGINT")
    with pytest.raises(ValueError, match="NULL"):
        R.erase_rows(spark, sink, man, "id", keys)
    # refusal happened before any rewrite: sink and manifest untouched
    assert len(_ids(spark.read.parquet(sink))) == 250
    assert manifest_consistency_audit(spark, sink, man).collect()[0][
        "consistent"
    ]


def test_composite_key_envelope_prunes_what_one_column_cannot(
    spark, tmp_path
):
    """2x2 grid-clustered sink on (a, b): a composite opt-out key that
    lives only in the low-low cell must rewrite ONLY that cell — a
    single-column envelope on `a` alone would also rewrite the low-a /
    high-b stripe. Also pins the guard rails: a key column without
    manifest stats raises, and a NULL in ANY component raises."""
    import pytest

    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")
    rows = [(a, b) for a in range(100) for b in (0, 1)]
    df = spark.createDataFrame(rows, "a BIGINT, b BIGINT")
    cells = {
        0: (F.col("a") < 50) & (F.col("b") == 0),
        1: (F.col("a") < 50) & (F.col("b") == 1),
        2: (F.col("a") >= 50) & (F.col("b") == 0),
        3: (F.col("a") >= 50) & (F.col("b") == 1),
    }
    for bid, pred in cells.items():
        df.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            f"{sink}/batch={bid}"
        )
        stats = collect_file_stats(
            spark, f"{sink}/batch={bid}", ["a", "b"]
        ).withColumn("batch", F.lit(bid))
        (
            stats.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(man)
        )
    doomed = spark.createDataFrame([(7, 0), (13, 0)], "a BIGINT, b BIGINT")
    rep = {
        r["batch"]: r
        for r in R.erase_rows(spark, sink, man, ["a", "b"], doomed).collect()
    }
    assert rep[0]["rewritten"] and rep[0]["rows_erased"] == 2
    # the single-column-would-rewrite stripe (low a, b=1) is untouched
    assert not rep[1]["rewritten"] and rep[1]["rows_erased"] == 0
    assert not rep[2]["rewritten"] and not rep[3]["rewritten"]
    survivors = spark.read.parquet(sink)
    assert survivors.count() == 198
    assert (
        survivors.filter((F.col("a").isin(7, 13)) & (F.col("b") == 0)).count()
        == 0
    )
    # guard rails
    with pytest.raises(ValueError, match="no min_/max_ stats"):
        R.erase_rows(
            spark, sink, man, ["a", "c"],
            spark.createDataFrame([(1, 2)], "a BIGINT, c BIGINT"),
        )
    with pytest.raises(ValueError, match="NULL"):
        R.erase_rows(
            spark, sink, man, ["a", "b"],
            spark.createDataFrame([(1, None)], "a BIGINT, b BIGINT"),
        )


def test_erase_from_schema_evolved_sink(spark, tmp_path):
    """Erasing a pre-evolution batch from a schema-evolved sink: the
    manifest tracks a column (`extra`) that the old batch does not
    have. The post-rewrite stats refresh must collect stats only for
    the columns the batch actually has and pad the missing tracked
    column as typed NULLs — asking the batch for `extra` would raise
    AFTER the file swap, stranding stale manifest rows with dead file
    URIs (ADVICE r9)."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")
    # batch 0: pre-evolution schema (id only), envelope [0, 99]
    spark.createDataFrame(
        [(i,) for i in range(100)], "id BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sink}/batch=0")
    s0 = (
        collect_file_stats(spark, f"{sink}/batch=0", ["id"])
        .withColumn("min_extra", F.lit(None).cast("bigint"))
        .withColumn("max_extra", F.lit(None).cast("bigint"))
        .withColumn("batch", F.lit(0))
    )
    # batch 1: evolved schema (id, extra), envelope [100, 249]
    spark.createDataFrame(
        [(i, 2 * i) for i in range(100, 250)], "id BIGINT, extra BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sink}/batch=1")
    s1 = collect_file_stats(
        spark, f"{sink}/batch=1", ["id", "extra"]
    ).withColumn("batch", F.lit(1))
    for s in (s0, s1):
        (
            s.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(man)
        )
    rep = {
        r["batch"]: r
        for r in R.erase_rows(
            spark, sink, man, "id", _keys(spark, [10, 20])
        ).collect()
    }
    # the pre-evolution batch was rewritten and its manifest refreshed
    assert rep[0]["rewritten"] and rep[0]["rows_erased"] == 2
    assert not rep[1]["rewritten"]
    stats = spark.read.parquet(man)
    assert sum(r["n_rows"] for r in stats.collect()) == 248
    by_batch = {r["batch"]: r for r in stats.collect()}
    # padded NULL stats for the column the old batch never had; the
    # evolved batch's stats are untouched
    assert by_batch[0]["min_extra"] is None
    assert by_batch[0]["min_id"] == 0 and by_batch[0]["max_id"] == 99
    assert by_batch[1]["min_extra"] == 200
    # pruned reads on the evolved column still work post-erasure
    got = _ids(read_pruned(spark, stats, "extra", 200, 204))
    assert got == [100, 101, 102]
    audit = manifest_consistency_audit(spark, sink, man).collect()[0]
    assert audit["consistent"]


def test_erase_multibatch_hitset_batched(spark, tmp_path):
    """Multi-batch hit-sets beyond the grid-of-4 (VERDICT r9 item 5):
    12 range-clustered batches spanning TWO schema generations, an
    opt-out list enveloped by 5 of them (one fully emptied). The
    batched rewrite must (a) equal the brute-force set difference,
    (b) leave untouched batches' files physically untouched, (c) keep
    the manifest consistent with refreshed stats, and (d) NOT evolve
    pre-evolution batches — the schema-grouped rewrite is what stops
    a v1 batch from sprouting the v2 column through a merged scan."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")
    # batches 0-5: v1 schema (id); batches 6-11: v2 schema (id, extra)
    for b in range(12):
        lo, hi = b * 100, (b + 1) * 100
        if b < 6:
            df = spark.createDataFrame(
                [(i,) for i in range(lo, hi)], "id BIGINT"
            )
            tracked = ["id"]
        else:
            df = spark.createDataFrame(
                [(i, 2 * i) for i in range(lo, hi)], "id BIGINT, extra BIGINT"
            )
            tracked = ["id", "extra"]
        df.coalesce(1).write.mode("overwrite").parquet(f"{sink}/batch={b}")
        stats = collect_file_stats(spark, f"{sink}/batch={b}", tracked)
        if b < 6:
            stats = stats.withColumn(
                "min_extra", F.lit(None).cast("bigint")
            ).withColumn("max_extra", F.lit(None).cast("bigint"))
        (
            stats.withColumn("batch", F.lit(b))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(man)
        )
    untouched_files = set(spark.read.parquet(f"{sink}/batch=0").inputFiles())
    # doom: a few keys in batches 2, 4, 7, 10 — and ALL of batch 3
    doomed = [201, 202, 433, 434, 777, 1050] + list(range(300, 400))
    rep = {
        r["batch"]: r
        for r in R.erase_rows(
            spark, sink, man, "id", _keys(spark, doomed)
        ).collect()
    }
    assert sorted(b for b in rep if rep[b]["rewritten"]) == [2, 3, 4, 7, 10]
    assert rep[3]["rows_after"] == 0 and rep[3]["rows_erased"] == 100
    for b, n in ((2, 2), (4, 2), (7, 1), (10, 1)):
        assert rep[b]["rows_erased"] == n
        assert rep[b]["rows_after"] == 100 - n
    for b in (0, 1, 5, 6, 8, 9, 11):
        assert not rep[b]["rewritten"] and rep[b]["rows_erased"] == 0
    # brute force: survivors are exactly the set difference
    want = sorted(set(range(0, 1200)) - set(doomed))
    assert _ids(spark.read.parquet(sink)) == want
    # untouched batches were not rewritten — same physical files
    assert (
        set(spark.read.parquet(f"{sink}/batch=0").inputFiles())
        == untouched_files
    )
    # a rewritten PRE-EVOLUTION batch keeps its v1 schema on disk
    assert spark.read.parquet(f"{sink}/batch=2").columns == ["id"]
    # a rewritten post-evolution batch keeps its v2 schema
    assert sorted(spark.read.parquet(f"{sink}/batch=7").columns) == [
        "extra",
        "id",
    ]
    # manifest: emptied batch gone, stats refreshed, audit clean
    stats = spark.read.parquet(man)
    assert sorted(set(r["batch"] for r in stats.collect())) == [
        b for b in range(12) if b != 3
    ]
    assert sum(r["n_rows"] for r in stats.collect()) == len(want)
    got = _ids(read_pruned(spark, stats, "id", 200, 205))
    assert got == [200, 203, 204, 205]
    audit = manifest_consistency_audit(spark, sink, man).collect()[0]
    assert audit["consistent"]


def test_erase_file_grain_within_batch(spark, tmp_path):
    """File-grain pruning (r10): a batch holding FOUR range-clustered
    files rewrites only the file whose own envelope admits a key —
    the other three keep their physical files and their manifest rows
    verbatim; and a key falling in the GAP between two files' ranges
    (inside the batch's aggregate span) rewrites nothing at all."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
        read_pruned,
    )

    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")
    # one batch, four files covering [0,100) [100,200) [300,400) [400,500)
    # — note the deliberate [200,300) GAP. Appended one at a time so
    # each file's envelope is exactly its range (repartitionByRange
    # samples boundaries and could put one file across the gap).
    for lo, hi in ((0, 100), (100, 200), (300, 400), (400, 500)):
        spark.createDataFrame(
            [(i,) for i in range(lo, hi)], "id BIGINT"
        ).coalesce(1).write.mode("append").parquet(f"{sink}/batch=0")
    stats = collect_file_stats(spark, f"{sink}/batch=0", ["id"])
    assert stats.count() == 4  # four files, four envelopes
    (
        stats.withColumn("batch", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(man)
    )
    pre = {r["file"]: r["n_rows"] for r in spark.read.parquet(man).collect()}
    files_before = set(spark.read.parquet(f"{sink}/batch=0").inputFiles())

    # a key in the gap: batch span [0,499] admits it, NO file does
    rep = R.erase_rows(spark, sink, man, "id", _keys(spark, [250]))
    assert [(r["rewritten"], r["rows_erased"]) for r in rep.collect()] == [
        (False, 0)
    ]
    assert set(spark.read.parquet(f"{sink}/batch=0").inputFiles()) == (
        files_before
    )

    # keys inside ONE file's range: only that file is replaced
    rep = {
        r["batch"]: r
        for r in R.erase_rows(
            spark, sink, man, "id", _keys(spark, [130, 131])
        ).collect()
    }
    assert rep[0]["rewritten"] and rep[0]["rows_erased"] == 2
    assert rep[0]["rows_after"] == 398
    files_after = set(spark.read.parquet(f"{sink}/batch=0").inputFiles())
    assert len(files_after) == 4
    # three original files untouched, exactly one replaced
    assert len(files_before & files_after) == 3
    # manifest: untouched files' rows verbatim, rewritten file fresh
    post = {r["file"]: r["n_rows"] for r in spark.read.parquet(man).collect()}
    kept_same = set(pre) & set(post)
    assert len(kept_same) == 3
    assert all(pre[f] == post[f] for f in kept_same)
    assert sum(post.values()) == 398
    # pruned reads around the erased keys stay exact
    got = _ids(read_pruned(spark, spark.read.parquet(man), "id", 128, 133))
    assert got == [128, 129, 132, 133]
    audit = manifest_consistency_audit(spark, sink, man).collect()[0]
    assert audit["consistent"]
    # content equals brute force
    assert _ids(spark.read.parquet(sink)) == sorted(
        (set(range(0, 200)) | set(range(300, 500))) - {130, 131}
    )


def test_erase_with_bloom_prunes_random_layout(spark, tmp_path):
    """On a hash-scattered layout every envelope admits every key, so
    plain erasure rewrites ALL batches; supplying per-batch blooms
    confines the rewrite to the true-hit batches — with identical
    final content either way."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        bloom as B,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    def build(subdir):
        sink, man = str(tmp_path / subdir / "s"), str(tmp_path / subdir / "m")
        df = spark.createDataFrame(
            [(i, int(i * 2654435761 % 8)) for i in range(800)],
            "id BIGINT, b INT",
        )
        for bid in range(8):
            df.filter(F.col("b") == bid).select("id").coalesce(
                1
            ).write.mode("overwrite").parquet(f"{sink}/batch={bid}")
            stats = collect_file_stats(
                spark, f"{sink}/batch={bid}", ["id"]
            ).withColumn("batch", F.lit(bid))
            (
                stats.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch")
                .parquet(man)
            )
        truth = {
            int(r["id"]): int(r["b"]) for r in df.collect()
        }
        return sink, man, truth

    doomed = [17, 402, 655]
    # without blooms: the scattered envelopes admit every key
    sink, man, truth = build("plain")
    rep = {
        r["batch"]: r
        for r in R.erase_rows(
            spark, sink, man, "id", _keys(spark, doomed)
        ).collect()
    }
    assert all(rep[b]["rewritten"] for b in range(8))
    # with blooms: only the true-hit batches are rewritten
    sink2, man2, _ = build("bloomed")
    blooms = B.collect_batch_blooms(spark, sink2, "id", n_bits=1 << 16)
    rep2 = {
        r["batch"]: r
        for r in R.erase_rows(
            spark,
            sink2,
            man2,
            "id",
            _keys(spark, doomed),
            blooms={"id": blooms},
            bloom_n_bits=1 << 16,
        ).collect()
    }
    hit_batches = {truth[d] for d in doomed}
    assert {b for b in rep2 if rep2[b]["rewritten"]} == hit_batches
    assert sum(r["rows_erased"] for r in rep2.values()) == 3
    want = sorted(set(truth) - set(doomed))
    assert _ids(spark.read.parquet(sink)) == want
    assert _ids(spark.read.parquet(sink2)) == want
    audit = manifest_consistency_audit(spark, sink2, man2).collect()[0]
    assert audit["consistent"]
    # guard: a bloom keyed on a non-key column is refused
    import pytest

    with pytest.raises(ValueError, match="non-key column"):
        R.erase_rows(
            spark, sink2, man2, "id", _keys(spark, [1]),
            blooms={"other": blooms},
        )


def test_erase_keeps_batch_missing_from_stale_bloom(spark, tmp_path):
    """A bloom frame cached before an append, then "refreshed" by
    re-collecting and caching again, is still the old cache entry: the
    re-read of the same path has ``sameResult`` with it, so the second
    ``.cache()`` is a no-op and the summaries cover batches 1-3 only.
    The appended batch 4 is envelope-admitted but has no summary row;
    it must stay affected, so its customer's row is erased."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        bloom as B,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")

    def land(batch, customers):
        rows = [(c, i) for i, c in enumerate(customers)]
        spark.createDataFrame(rows, "CustomerID STRING, line BIGINT").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{sink}/batch={batch}")
        (
            collect_file_stats(spark, f"{sink}/batch={batch}", ["CustomerID"])
            .withColumn("batch", F.lit(batch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(man)
        )

    for b in (1, 2, 3):
        land(b, [f"C{b}{i:02d}" for i in range(20)])
    spark.catalog.clearCache()
    old = B.collect_batch_blooms(spark, sink, "CustomerID", n_bits=1 << 12).cache()
    old.count()
    land(4, ["C400", "C999", "C401"])
    blooms = B.collect_batch_blooms(
        spark, sink, "CustomerID", n_bits=1 << 12
    ).cache()
    # the trap this test replays: the re-collected frame is served
    # from the pre-append entry
    assert sorted(r["batch"] for r in blooms.collect()) == [1, 2, 3]

    rep = {
        r["batch"]: r
        for r in R.erase_rows(
            spark, sink, man, "CustomerID",
            spark.createDataFrame([("C999",)], "CustomerID STRING"),
            blooms={"CustomerID": blooms},
        ).collect()
    }
    assert rep[4]["rewritten"] and rep[4]["rows_erased"] == 1
    left = spark.read.parquet(sink)
    assert left.filter(F.col("CustomerID") == "C999").count() == 0
    assert left.count() == 3 * 20 + 2
    old.unpersist()


def test_erasure_property_vs_bruteforce(spark, tmp_path):
    """Property: on arbitrary batch layouts (overlapping envelopes
    included) and arbitrary opt-out sets, erasure equals the Python
    recompute — final content is the set difference, the report's
    arithmetic is exact, and `rewritten` is precisely the conservative
    envelope decision (a batch whose [min,max] covers a key value is
    rewritten even if no actual row matches — erasing zero rows)."""
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    ids = st.integers(min_value=0, max_value=30)
    batch = st.lists(ids, min_size=1, max_size=12, unique=True)

    @settings(max_examples=6, deadline=None)
    @given(
        batches=st.lists(batch, min_size=1, max_size=3),
        keys=st.lists(ids, min_size=1, max_size=8, unique=True),
    )
    def run(batches, keys):
        # mkdtemp + explicit cleanup (not tmp_path: hypothesis reuses
        # the fixture dir across examples); pre-fix this leaked one
        # ~100 KB scratch tree per example per suite run
        base = tempfile.mkdtemp(prefix="erase_prop_")
        sink, man = f"{base}/sink", f"{base}/man"
        for b, rows in enumerate(batches):
            _land_batch(spark, sink, man, b, rows)
        rep = {
            r["batch"]: r
            for r in R.erase_rows(
                spark, sink, man, "id", _keys(spark, keys)
            ).collect()
        }
        kset = set(keys)
        for b, rows in enumerate(batches):
            hit = any(min(rows) <= k <= max(rows) for k in kset)
            erased = len(set(rows) & kset)
            assert rep[b]["rewritten"] == hit
            assert rep[b]["rows_before"] == len(rows)
            assert rep[b]["rows_erased"] == erased
            assert rep[b]["rows_after"] == len(rows) - erased
        want = sorted(
            x for rows in batches for x in rows if x not in kset
        )
        assert _ids(spark.read.parquet(sink)) == want
        import shutil

        shutil.rmtree(base, ignore_errors=True)

    run()


def test_erasure_breaks_old_snapshots_audibly(spark, tmp_path):
    """Compliance wins over reproducibility — and the drift audit is
    how a pinned reader finds out."""
    sink, man = _build(spark, tmp_path)
    log = str(tmp_path / "log")
    SN.commit_snapshot(spark, man, log)
    R.erase_rows(spark, sink, man, "id", _keys(spark, [10, 20, 30]))
    drift = SN.snapshot_drift_audit(spark, sink, log, 1).collect()[0]
    assert not drift["reproducible"]
    assert drift["n_row_drift_batches"] == 1
    assert drift["n_rows_current"] == 247
    # a post-erasure commit restores a clean pin
    v2 = SN.commit_snapshot(spark, man, log)
    ok = SN.snapshot_drift_audit(spark, sink, log, v2).collect()[0]
    assert ok["reproducible"] and ok["n_rows_recorded"] == 247


def test_maintenance_chain_compact_then_erase(spark, tmp_path):
    """The maintenance ops compose: a multi-file batch is compacted
    (manifest refreshed to one file), then keys are erased from the
    compacted sink — content equals brute force, the manifest stays
    consistent after BOTH rewrites, and the compaction-era snapshot
    pin survives compaction but audibly breaks at erasure."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        snapshots as SN,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.formats import (
        compact_batch,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    sink, man, log = (str(tmp_path / d) for d in ("sink", "man", "log"))
    for lo in (0, 50):  # batch 0: two files covering [0,50) [50,100)
        spark.createDataFrame(
            [(i,) for i in range(lo, lo + 50)], "id BIGINT"
        ).coalesce(1).write.mode("append").parquet(f"{sink}/batch=0")
    (
        collect_file_stats(spark, f"{sink}/batch=0", ["id"])
        .withColumn("batch", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(man)
    )
    _land_batch(spark, sink, man, 1, range(100, 200))
    SN.commit_snapshot(spark, man, log)

    assert compact_batch(spark, sink, man, 0) == (2, 1)
    assert SN.snapshot_drift_audit(spark, sink, log, 1).collect()[0][
        "reproducible"
    ]
    rep = {
        r["batch"]: r
        for r in R.erase_rows(
            spark, sink, man, "id", _keys(spark, [7, 70, 170])
        ).collect()
    }
    assert rep[0]["rows_erased"] == 2 and rep[1]["rows_erased"] == 1
    assert _ids(spark.read.parquet(sink)) == sorted(
        set(range(200)) - {7, 70, 170}
    )
    audit = manifest_consistency_audit(spark, sink, man).collect()[0]
    assert audit["consistent"]
    drift = SN.snapshot_drift_audit(spark, sink, log, 1).collect()[0]
    assert not drift["reproducible"]


def test_erase_heterogeneous_batch_raises(spark, tmp_path):
    """A batch whose FILES disagree on schema (a writer violating the
    one-schema-per-batch landing convention) must fail loudly: the
    grouped rewrite would otherwise scan all candidate files with one
    sampled footer schema and silently drop the columns present only
    in the non-sampled files."""
    import pytest

    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")
    spark.createDataFrame(
        [(i,) for i in range(50)], "id BIGINT"
    ).coalesce(1).write.mode("append").parquet(f"{sink}/batch=0")
    spark.createDataFrame(
        [(i, "x") for i in range(50, 100)], "id BIGINT, extra STRING"
    ).coalesce(1).write.mode("append").parquet(f"{sink}/batch=0")
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    stats = collect_file_stats(spark, f"{sink}/batch=0", ["id"]).withColumn(
        "batch", F.lit(0)
    )
    stats.write.partitionBy("batch").parquet(man)
    # keys hit BOTH files, so the one-scan rewrite would mix schemas
    with pytest.raises(ValueError, match="heterogeneous"):
        R.erase_rows(spark, sink, man, "id", _keys(spark, [10, 60]))
    # and the sink was not touched by the refused rewrite
    assert spark.read.parquet(f"{sink}/batch=0").count() == 100
    # a hit confined to ONE file's envelope is safe: the scan schema is
    # that file's own footer — the erasure proceeds at file grain
    rep = R.erase_rows(spark, sink, man, "id", _keys(spark, [10]))
    assert rep.collect()[0]["rows_erased"] == 1
    assert spark.read.parquet(f"{sink}/batch=0").count() == 99


# --------------------------------------------- crash repair + vacuum
#
# The r11 repair face: every documented erase_rows crash window is
# constructed BY HAND (via the journal + hidden trees, exactly the
# state a real crash leaves) and repaired; vacuum_maintenance refuses
# to destroy load-bearing residue.

import json as _json
import os as _os
import shutil as _shutil


def _local(uri):
    """file:/... URI -> local path."""
    return uri.split(":", 1)[1] if ":" in uri else uri


def _journal(spark, sink, doomed_ids):
    """The once-per-call resumability journal erase_rows writes before
    any group mutates the sink."""
    spark.createDataFrame(
        [(i,) for i in doomed_ids], "id BIGINT"
    ).write.mode("overwrite").parquet(f"{sink}/.erase_keys")
    R._write_text(
        spark,
        f"{sink}/.erase_intent.json",
        _json.dumps({"key_cols": ["id"], "bloom_store_path": None}),
    )


def _stage_crash(spark, sink, man, doomed_ids, land=False, batch=0):
    """Reproduce erase_rows' on-disk state for a crash in window (b):
    resumability journal + commit marker written, staging durable, the
    batch's candidate files retired to trash, replacements NOT landed
    (unless land=, which reproduces window (c))."""
    _journal(spark, sink, doomed_ids)
    cand = [
        r["file"]
        for r in spark.read.parquet(man)
        .filter(F.col("batch") == batch)
        .collect()
    ]
    src = spark.read.option("basePath", sink).parquet(*cand)
    kept = src.filter(~F.col("id").isin(list(doomed_ids)))
    kept.write.partitionBy("batch").parquet(f"{sink}/.erase_staging")
    R._write_text(
        spark,
        f"{sink}/.erase_commit.json",
        _json.dumps(
            {"batches": {str(batch): {"files": cand, "n_untouched": 0}}}
        ),
    )
    _os.makedirs(f"{sink}/.erase_trash/batch={batch}", exist_ok=True)
    for u in cand:
        p = _local(u)
        _shutil.move(p, f"{sink}/.erase_trash/batch={batch}/")
    if land:
        st = f"{sink}/.erase_staging/batch={batch}"
        if _os.path.isdir(st):
            for name in _os.listdir(st):
                if name.startswith("part-"):
                    _shutil.move(
                        f"{st}/{name}", f"{sink}/batch={batch}/{name}"
                    )


def test_repair_erasure_rolls_forward_mid_swap_crash(spark, tmp_path):
    """Window (b): retired but not landed. The audit reports the
    damage; repair rolls the swap FORWARD from the journal and the
    result is bit-for-bit the erasure a non-crashed call produces."""
    sink, man = _build(spark, tmp_path / "a")
    twin_sink, twin_man = _build(spark, tmp_path / "b")
    R.erase_rows(spark, twin_sink, twin_man, "id", _keys(spark, [10, 20, 30]))
    _stage_crash(spark, sink, man, [10, 20, 30])
    assert not manifest_consistency_audit(spark, sink, man).collect()[0][
        "consistent"
    ]
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep["found_residue"] and rep["rolled_forward"]
    assert rep["n_files_landed"] >= 1 and rep["consistent_after"]
    # the journaled resume re-ran the erasure; the roll-forward had
    # already erased everything, so the resume erases nothing more
    assert rep["erasure_resumed"] and rep["n_rows_erased_on_resume"] == 0
    assert _ids(spark.read.parquet(sink)) == _ids(
        spark.read.parquet(twin_sink)
    )
    # manifests agree batch-for-batch on content stats
    a = {
        (int(r["batch"])): int(r["n_rows"])
        for r in spark.read.parquet(man)
        .groupBy("batch")
        .agg(F.sum("n_rows").alias("n_rows"))
        .collect()
    }
    b = {
        (int(r["batch"])): int(r["n_rows"])
        for r in spark.read.parquet(twin_man)
        .groupBy("batch")
        .agg(F.sum("n_rows").alias("n_rows"))
        .collect()
    }
    assert a == b
    # idempotent: a second repair finds nothing and stays consistent
    rep2 = R.repair_erasure(spark, sink, man).collect()[0]
    assert not rep2["found_residue"] and rep2["consistent_after"]


def test_repair_erasure_window_c_manifest_only(spark, tmp_path):
    """Window (c): swaps complete, crash before the manifest refresh —
    landed files unenveloped, retired files' rows stale. Repair is
    manifest-only (no roll-forward needed)."""
    sink, man = _build(spark, tmp_path / "a")
    twin_sink, twin_man = _build(spark, tmp_path / "b")
    R.erase_rows(spark, twin_sink, twin_man, "id", _keys(spark, [10, 20, 30]))
    _stage_crash(spark, sink, man, [10, 20, 30], land=True)
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep["rolled_forward"] and rep["n_files_landed"] == 0
    assert rep["n_stale_rows_dropped"] == 1
    assert rep["n_files_reenveloped"] == 1 and rep["consistent_after"]
    assert _ids(spark.read.parquet(sink)) == _ids(
        spark.read.parquet(twin_sink)
    )


def test_repair_erasure_discards_torn_staging_then_resumes(
    spark, tmp_path
):
    """Window (a): crash inside the staging write — NO commit marker,
    so the torn tree is discarded (the sink was never touched), and
    the journaled resume then runs the WHOLE delete: a repair that
    left the subject rows on disk would be a partial compliance
    delete disguised as a repaired one. Deliberately no _SUCCESS
    dependence: the marker can be disabled cluster-wide."""
    sink, man = _build(spark, tmp_path)
    _journal(spark, sink, [10, 20, 30])
    src = spark.read.option("basePath", sink).parquet(sink)
    src.filter("batch = 0").write.partitionBy("batch").parquet(
        f"{sink}/.erase_staging"
    )
    _os.remove(f"{sink}/.erase_staging/_SUCCESS")
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep["found_residue"] and not rep["rolled_forward"]
    assert rep["erasure_resumed"] and rep["n_rows_erased_on_resume"] == 3
    assert rep["consistent_after"]
    left = _ids(spark.read.parquet(sink))
    assert len(left) == 247 and not {10, 20, 30} & set(left)
    assert not _os.path.exists(f"{sink}/.erase_staging")
    assert not _os.path.exists(f"{sink}/.erase_intent.json")
    assert not _os.path.exists(f"{sink}/.erase_keys")


def test_repair_erasure_finishes_pending_groups(spark, tmp_path):
    """A multi-group erasure that crashed before later groups even
    started: only the journal exists. Repair must finish the delete
    from it — consistent_after certifies the COMPLETE erasure, not
    just a consistent manifest over a partial one."""
    sink, man = _build(spark, tmp_path)
    _journal(spark, sink, [10, 110])  # keys spanning both batches
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep["found_residue"] and not rep["rolled_forward"]
    assert rep["erasure_resumed"] and rep["n_rows_erased_on_resume"] == 2
    assert rep["consistent_after"]
    left = _ids(spark.read.parquet(sink))
    assert len(left) == 248 and not {10, 110} & set(left)


def test_repair_erasure_completes_emptied_batch(spark, tmp_path):
    """A batch whose every row was doomed, crashed mid-swap: repair
    lands the zero-row schema-bearing file and drops the batch's
    manifest rows — the same end state a non-crashed erasure leaves."""
    sink, man = _build(spark, tmp_path)
    _stage_crash(spark, sink, man, list(range(0, 100)))
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep["rolled_forward"] and rep["n_batches_emptied"] == 1
    assert rep["consistent_after"]
    assert _ids(spark.read.parquet(sink)) == list(range(100, 250))
    # the emptied batch kept a schema-bearing file, no manifest rows
    assert any(
        n.startswith("part-") for n in _os.listdir(f"{sink}/batch=0")
    )
    assert not _os.path.exists(f"{man}/batch=0")


def test_repair_manifest_standalone(spark, tmp_path):
    """The generic detect→repair: stale row (file deleted), unenveloped
    file (out-of-band write), count drift (file replaced) — one call
    fixes all three and pruned reads are exact again."""
    sink, man = _build(spark, tmp_path)
    # stale: delete batch 1's file behind the manifest's back
    f1 = _local(
        spark.read.parquet(man).filter(F.col("batch") == 1).collect()[0][
            "file"
        ]
    )
    _os.remove(f1)
    # unenveloped: land an extra file in batch 1 out of band
    spark.createDataFrame([(i,) for i in range(500, 520)], "id BIGINT").coalesce(
        1
    ).write.mode("append").parquet(f"{sink}/batch=1")
    assert not manifest_consistency_audit(spark, sink, man).collect()[0][
        "consistent"
    ]
    rep = R.repair_manifest(spark, sink, man).collect()[0]
    assert rep["n_stale_rows_dropped"] == 1
    assert rep["n_files_reenveloped"] == 1
    assert rep["consistent_after"]
    got = _ids(read_pruned(spark, spark.read.parquet(man), "id", 500, 505))
    assert got == list(range(500, 506))


def test_vacuum_refuses_loadbearing_residue(spark, tmp_path):
    """vacuum_maintenance never destroys the only copy: a
    roll-forwardable erasure is refused (repair first), inert residue
    is reclaimed and counted."""
    import pytest

    sink, man = _build(spark, tmp_path)
    _stage_crash(spark, sink, man, [10, 20, 30])
    with pytest.raises(ValueError, match="repair_erasure"):
        R.vacuum_maintenance(spark, sink)
    R.repair_erasure(spark, sink, man)
    # repair cleaned its own residue — nothing left to vacuum
    rep = R.vacuum_maintenance(spark, sink).collect()[0]
    assert rep["n_paths_removed"] == 0
    # inert residue (trash without a plan): reclaimed
    _os.makedirs(f"{sink}/.erase_trash/batch=9")
    with open(f"{sink}/.erase_trash/batch=9/part-junk", "w") as fh:
        fh.write("x")
    rep = R.vacuum_maintenance(spark, sink).collect()[0]
    assert rep["n_paths_removed"] == 1 and rep["n_files_removed"] == 1
    assert not _os.path.exists(f"{sink}/.erase_trash")


def test_repair_compaction_restores_and_completes(spark, tmp_path):
    """compact_batch's two mid-swap crash states: torn staging →
    partition RESTORED from trash; completed staging → swap COMPLETED
    to the compacted copy. Both end manifest-consistent, and vacuum
    refuses while the trash is the only copy."""
    import pytest

    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        formats as FM,
    )

    sink, man = _build(spark, tmp_path)
    # --- torn staging: retire ran, compacted copy incomplete
    _shutil.move(f"{sink}/batch=0", f"{sink}/.compact_trash_batch=0")
    _os.makedirs(f"{sink}/.compact_staging_batch=0")
    with pytest.raises(ValueError, match="repair_compaction"):
        R.vacuum_maintenance(spark, sink)
    rep = FM.repair_compaction(spark, sink, man, 0).collect()[0]
    assert rep["action"] == "restored" and rep["consistent_after"]
    assert len(_ids(spark.read.parquet(sink))) == 250
    # --- completed staging: land it instead of restoring
    spark.read.parquet(f"{sink}/batch=0").coalesce(1).write.parquet(
        f"{sink}/.compact_staging_batch=0"
    )
    _shutil.move(f"{sink}/batch=0", f"{sink}/.compact_trash_batch=0")
    rep = FM.repair_compaction(spark, sink, man, 0).collect()[0]
    assert rep["action"] == "completed" and rep["consistent_after"]
    assert len(_ids(spark.read.parquet(sink))) == 250
    assert (
        sum(
            1
            for n in _os.listdir(f"{sink}/batch=0")
            if n.startswith("part-")
        )
        == 1
    )
    assert not _os.path.exists(f"{sink}/.compact_trash_batch=0")


def test_erase_maintains_bloom_store(spark, tmp_path):
    """bloom_store_path= keeps the store CURRENT through the delete:
    rewritten batches' rows re-collected, a fully-emptied batch's
    store partition dropped — bloom_store_audit green end to end
    (without it, the audit correctly reports the safe-but-stale
    count mismatches an in-place delete leaves)."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        bloom as B,
    )

    sink, man = _build(spark, tmp_path)  # batches [0,99], [100,249]
    blm = str(tmp_path / "blm")
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 14).write.partitionBy(
        "batch"
    ).parquet(blm)
    assert B.bloom_store_audit(spark, sink, blm).collect()[0]["current"]
    store = B.load_bloom_store(spark, blm, "id")
    # batch 0 fully doomed + a sparse hit in batch 1
    rep = R.erase_rows(
        spark,
        sink,
        man,
        "id",
        _keys(spark, list(range(0, 100)) + [110, 120]),
        blooms={"id": store},
        bloom_store_path=blm,
    )
    assert {r["batch"]: r["rows_after"] for r in rep.collect()} == {
        0: 0,
        1: 148,
    }
    aud = B.bloom_store_audit(spark, sink, blm).collect()[0]
    assert aud["current"], aud.asDict()
    # emptied batch 0 dropped its store partition; batch 1 re-collected
    assert sorted(
        int(r["batch"])
        for r in spark.read.parquet(blm).select("batch").distinct().collect()
    ) == [1]
    row = spark.read.parquet(blm).collect()[0]
    assert int(row["n_keys"]) == 148
    # and the refreshed store still point-prunes correctly
    got = B.read_bloom_pruned(
        spark, sink, B.load_bloom_store(spark, blm, "id"), "id", [130]
    )
    assert [r["id"] for r in got.collect()] == [130]


def test_erase_store_refresh_drops_all_null_key_batch(spark, tmp_path):
    """Edge of the store maintenance: a batch whose SURVIVING rows all
    carry NULL keys lands no summary rows — its old store partition
    must be dropped (dynamic overwrite alone would leave it as stale
    orphan rows)."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        bloom as B,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    sink, man, blm = (str(tmp_path / d) for d in ("sink", "man", "blm"))
    # batch 0: keyed rows 0-9 plus 5 NULL-keyed rows
    rows = [(i,) for i in range(10)] + [(None,)] * 5
    spark.createDataFrame(rows, "id BIGINT").coalesce(1).write.parquet(
        f"{sink}/batch=0"
    )
    stats = collect_file_stats(spark, f"{sink}/batch=0", ["id"]).withColumn(
        "batch", F.lit(0)
    )
    stats.write.partitionBy("batch").parquet(man)
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 12).write.partitionBy(
        "batch"
    ).parquet(blm)
    # erase every NON-NULL key; NULL-keyed rows survive
    R.erase_rows(
        spark, sink, man, "id", _keys(spark, range(10)),
        bloom_store_path=blm,
    )
    survivors = spark.read.parquet(sink)
    assert survivors.count() == 5
    assert survivors.filter(F.col("id").isNotNull()).count() == 0
    # the store partition is gone, not stale
    import os

    assert not os.path.exists(f"{blm}/batch=0")


import pytest as _pytest


@_pytest.mark.parametrize("seed", [11, 23, 47])
def test_maintenance_lifecycle_model_based(spark, tmp_path, seed):
    """Model-based interleaving of the whole maintenance surface:
    append / erase / compact / erasure-crash+repair /
    compaction-crash+repair / vacuum / bloom-store repair in a
    deterministic pseudo-random order, with the surviving-id set
    tracked in a Python model. After every operation the sink must
    equal the model and (post-repair) the audit must be green; inside
    BOTH crash windows a vacuum must REFUSE (the residue is
    load-bearing) — interaction bugs between the swap disciplines
    would surface here long before a single-scenario test sees them.

    The bloom-store tier rides along (r12): a store collected up
    front goes stale through appends (missing batches) and unmantained
    erasures (count mismatches); `store_repair` must always restore
    audit-currency AND the no-false-negative guarantee against the
    model's live ids, and a MAINTAINED erasure (bloom_store_path=)
    must keep currency for the batches it touched."""
    import random

    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        bloom as B,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        formats as FM,
    )

    rng = random.Random(seed)
    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")
    blm = str(tmp_path / "blm")
    model: dict[int, set[int]] = {}
    next_id = 0

    def land(bid):
        nonlocal next_id
        ids = range(next_id, next_id + 80)
        _land_batch(spark, sink, man, bid, ids)
        model[bid] = set(ids)
        next_id += 80

    def store_nonempty():
        try:
            return bool(spark.read.parquet(blm).limit(1).count())
        except Exception:
            return False

    def check():
        got = sorted(
            r["id"]
            for r in spark.read.parquet(sink)
            .filter(F.col("id").isNotNull())
            .collect()
        )
        want = sorted(i for s in model.values() for i in s)
        assert got == want
        assert manifest_consistency_audit(spark, sink, man).collect()[0][
            "consistent"
        ]

    land(0)
    land(1)
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 13).write.mode(
        "overwrite"
    ).partitionBy("batch").parquet(blm)
    for step in range(8):
        op = rng.choice(
            [
                "append",
                "erase",
                "compact",
                "crash",
                "ccrash",
                "vacuum",
                "store_repair",
            ]
        )
        if op == "append":
            land(max(model) + 1)
        elif op == "erase":
            pool = sorted(i for s in model.values() for i in s)
            doomed = set(rng.sample(pool, min(25, len(pool))))
            # half the erasures maintain the store through the delete,
            # half leave it stale for store_repair to reconcile
            maintain = rng.random() < 0.5 and store_nonempty()
            R.erase_rows(
                spark, sink, man, "id", _keys(spark, sorted(doomed)),
                bloom_store_path=blm if maintain else None,
            )
            for s in model.values():
                s.difference_update(doomed)
        elif op == "compact":
            b = rng.choice(sorted(b for b in model if model[b]))
            FM.compact_batch(spark, sink, man, b)
        elif op == "crash":
            # a mid-swap erasure crash on one non-empty batch, rolled
            # forward by repair — net effect must equal the erasure
            bs = sorted(b for b in model if model[b])
            b = rng.choice(bs)
            doomed = set(rng.sample(sorted(model[b]), min(10, len(model[b]))))
            _journal(spark, sink, sorted(doomed))
            cand = [
                r["file"]
                for r in spark.read.parquet(man)
                .filter(F.col("batch") == b)
                .collect()
            ]
            csrc = spark.read.option("basePath", sink).parquet(*cand)
            kept = csrc.filter(~F.col("id").isin(sorted(doomed)))
            kept.write.partitionBy("batch").parquet(f"{sink}/.erase_staging")
            R._write_text(
                spark,
                f"{sink}/.erase_commit.json",
                _json.dumps(
                    {
                        "batches": {
                            str(b): {"files": cand, "n_untouched": 0}
                        }
                    }
                ),
            )
            fs, hpath = R._fs(spark, sink)
            fs.mkdirs(hpath(f"{sink}/.erase_trash/batch={b}"))
            for u in cand:
                fs.rename(
                    hpath(u),
                    hpath(
                        f"{sink}/.erase_trash/batch={b}/"
                        + u.rsplit("/", 1)[1]
                    ),
                )
            # the committed-staging residue is load-bearing: a vacuum
            # mid-crash must REFUSE before the repair runs
            with _pytest.raises(ValueError, match="repair_erasure"):
                R.vacuum_maintenance(spark, sink)
            rep = R.repair_erasure(spark, sink, man).collect()[0]
            assert rep["consistent_after"], (step, b)
            model[b].difference_update(doomed)
        elif op == "ccrash":
            # a compaction mid-swap crash (durable staging with OUR
            # marker, _SUCCESS removed, partition retired), repaired —
            # net content must be unchanged and a mid-crash vacuum
            # must refuse (the trash holds the only copy)
            b = rng.choice(sorted(b for b in model if model[b]))
            fs, hpath = R._fs(spark, sink)
            staging = f"{sink}/.compact_staging_batch={b}"
            spark.read.parquet(f"{sink}/batch={b}").coalesce(
                1
            ).write.parquet(staging)
            fs.delete(hpath(f"{staging}/_SUCCESS"), False)
            R._write_text(
                spark,
                f"{sink}/.compact_commit_batch={b}.json",
                _json.dumps({"batch": b}),
            )
            fs.rename(
                hpath(f"{sink}/batch={b}"),
                hpath(f"{sink}/.compact_trash_batch={b}"),
            )
            with _pytest.raises(ValueError, match="repair_compaction"):
                R.vacuum_maintenance(spark, sink)
            rep = FM.repair_compaction(spark, sink, man, b).collect()[0]
            assert rep["action"] == "completed", (step, b)
            assert rep["consistent_after"], (step, b)
        elif op == "vacuum":
            R.vacuum_maintenance(spark, sink)
        elif op == "store_repair" and store_nonempty():
            B.repair_bloom_store(spark, sink, blm)
            if store_nonempty():
                assert all(
                    r["current"]
                    for r in B.bloom_store_audit(spark, sink, blm)
                    .collect()
                ), step
                # no-false-negative guarantee vs the model: every
                # sampled live id must be a candidate for its batch
                live = [
                    (b, i) for b, s in model.items() for i in sorted(s)
                ]
                sample = rng.sample(live, min(10, len(live)))
                keys = spark.createDataFrame(
                    [(i,) for _, i in sample], "id BIGINT"
                )
                cand = {
                    (int(r["batch"]), int(r["id"]))
                    for r in B.bloom_candidates(
                        spark.read.parquet(blm), keys, "id"
                    ).collect()
                }
                assert set(sample) <= cand, (step, sorted(set(sample) - cand))
        check()


def test_repair_erasure_noop_resume_retires_journal(spark, tmp_path):
    """A resumed erasure that finds ZERO candidates (the doomed keys
    fall in no surviving envelope) cleans up nothing itself — the
    journal must be retired by REPAIR, or every later vacuum refuses
    forever and every repair re-runs a no-op: a permanent refusal loop
    escapable only by force (ADVICE r11)."""
    sink, man = _build(spark, tmp_path)
    _journal(spark, sink, [9999])  # outside both envelopes: no-op resume
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep["erasure_resumed"] and rep["n_rows_erased_on_resume"] == 0
    assert rep["consistent_after"]
    assert not _os.path.exists(f"{sink}/.erase_intent.json")
    assert not _os.path.exists(f"{sink}/.erase_keys")
    # the loop is broken: vacuum no longer refuses, repair finds nothing
    R.vacuum_maintenance(spark, sink)
    rep2 = R.repair_erasure(spark, sink, man).collect()[0]
    assert not rep2["found_residue"] and rep2["consistent_after"]


def test_repair_erasure_survives_fully_emptied_manifest(spark, tmp_path):
    """A whole-table opt-out that crashed after its roll-forward: every
    manifest partition is dropped, and the resume's manifest read would
    raise (unable to infer schema) — repair must treat the state as
    nothing-left-to-erase, retire the journal and report consistent
    instead of aborting mid-phase with the journal still on disk
    (ADVICE r11)."""
    sink, man = _build(spark, tmp_path)
    # a real whole-table erasure leaves the post-roll-forward state:
    # zero-row schema files in the sink, no manifest partitions
    R.erase_rows(spark, sink, man, "id", _keys(spark, range(0, 250)))
    assert spark.read.parquet(sink).count() == 0
    # the crash window: journal written, everything else already done
    _journal(spark, sink, list(range(0, 250)))
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep["found_residue"] and rep["erasure_resumed"]
    assert rep["n_rows_erased_on_resume"] == 0
    assert rep["consistent_after"]
    assert not _os.path.exists(f"{sink}/.erase_intent.json")
    assert not _os.path.exists(f"{sink}/.erase_keys")
    R.vacuum_maintenance(spark, sink)  # no refusal loop


def test_repair_erasure_reconciles_journaled_bloom_store(spark, tmp_path):
    """Crash between the sink swap and the store refresh of an
    erase_rows(bloom_store_path=) call: the store is stale (count
    mismatch) and the resume, recomputing candidates from the
    POST-erasure manifest, can skip the refresh entirely — repair must
    reconcile the journaled store itself (ADVICE r11 / VERDICT r11
    item 6)."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        bloom as B,
    )

    sink, man = _build(spark, tmp_path)
    blm = str(tmp_path / "blm")
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 14).write.partitionBy(
        "batch"
    ).parquet(blm)
    # the swap + manifest refresh completed (a plain erase), but the
    # store refresh never ran and the journal survived the crash
    R.erase_rows(spark, sink, man, "id", _keys(spark, [10, 20, 30]))
    spark.createDataFrame(
        [(i,) for i in (10, 20, 30)], "id BIGINT"
    ).write.mode("overwrite").parquet(f"{sink}/.erase_keys")
    R._write_text(
        spark,
        f"{sink}/.erase_intent.json",
        _json.dumps({"key_cols": ["id"], "bloom_store_path": blm}),
    )
    assert not all(
        r["current"]
        for r in B.bloom_store_audit(spark, sink, blm).collect()
    )
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep["erasure_resumed"] and rep["consistent_after"]
    # the store the caller asked to maintain is current again
    assert all(
        r["current"]
        for r in B.bloom_store_audit(spark, sink, blm).collect()
    )
    assert not _os.path.exists(f"{sink}/.erase_intent.json")
    assert not _os.path.exists(f"{sink}/.erase_keys")


def test_manifest_damage_collect_bounded_by_damage(spark, tmp_path):
    """The repair's driver-side classification is the damaged subset,
    never the inventory: on a many-file sink with exactly two damaged
    files, the frame repair_manifest collects holds exactly two rows
    (VERDICT r11 item 3 — assert on the frame's count, not driver
    memory)."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")
    for b in range(2):
        spark.range(b * 1000, b * 1000 + 1000).select(
            F.col("id")
        ).repartition(20).write.parquet(f"{sink}/batch={b}")
        stats = collect_file_stats(
            spark, f"{sink}/batch={b}", ["id"]
        ).withColumn("batch", F.lit(b))
        stats.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch").parquet(man)
    assert (
        spark.read.parquet(man).count() >= 40
    )  # many files, all enveloped
    # two damaged files: one stale (deleted), one unenveloped (append)
    f0 = _local(spark.read.parquet(f"{sink}/batch=0").inputFiles()[0])
    _os.remove(f0)
    spark.range(5000, 5050).select(F.col("id")).coalesce(1).write.mode(
        "append"
    ).parquet(f"{sink}/batch=1")
    dmg = R._manifest_damage(spark, sink, spark.read.parquet(man))
    assert dmg.count() == 2
    classes = {r["damage"] for r in dmg.collect()}
    assert classes == {"stale", "unenveloped"}
    rep = R.repair_manifest(spark, sink, man).collect()[0]
    assert rep["n_stale_rows_dropped"] == 1
    assert rep["n_files_reenveloped"] == 1
    assert rep["consistent_after"]


def test_erase_refuses_store_with_vanished_column(spark, tmp_path):
    """erase_rows(bloom_store_path=) pre-validates that every
    store-recorded column still exists in the sink schema — the
    post-swap refresh could not collect a vanished one, which would
    abort AFTER the swap and lose the erasure report (ADVICE r11)."""
    import pytest

    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        bloom as B,
    )

    sink, man = _build(spark, tmp_path)
    blm = str(tmp_path / "blm")
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 13).write.partitionBy(
        "batch"
    ).parquet(blm)
    ghost = (
        spark.read.parquet(blm)
        .withColumn("key_col", F.lit("ghost"))
        .localCheckpoint(eager=True)
    )
    ghost.write.mode("append").partitionBy("batch").parquet(blm)
    with pytest.raises(ValueError, match="absent from the sink"):
        R.erase_rows(
            spark, sink, man, "id", _keys(spark, [10]),
            bloom_store_path=blm,
        )
    # the refusal came BEFORE any mutation
    assert spark.read.parquet(sink).count() == 250
    # repair_bloom_store drops the vanished column, after which the
    # maintained erasure proceeds
    B.repair_bloom_store(spark, sink, blm)
    rep = R.erase_rows(
        spark, sink, man, "id", _keys(spark, [10]), bloom_store_path=blm
    )
    assert sum(r["rows_erased"] for r in rep.collect()) == 1
    assert all(
        r["current"]
        for r in B.bloom_store_audit(spark, sink, blm).collect()
    )


def test_erase_store_refresh_skips_absent_evolved_column(spark, tmp_path):
    """A store column legitimately absent from ALL the affected batches
    (pre-evolution batches never held it): the refresh collects the
    present columns instead of raising AFTER the swap (ADVICE r11).
    The absent column's rows in other batches stay verbatim."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        bloom as B,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    sink, man, blm = (
        str(tmp_path / "sink"),
        str(tmp_path / "man"),
        str(tmp_path / "blm"),
    )
    # batch 0: id only (pre-evolution); batch 1: id + v2
    spark.createDataFrame(
        [(i,) for i in range(0, 100)], "id BIGINT"
    ).coalesce(1).write.parquet(f"{sink}/batch=0")
    spark.createDataFrame(
        [(i, i * 10) for i in range(100, 250)], "id BIGINT, v2 BIGINT"
    ).coalesce(1).write.parquet(f"{sink}/batch=1")
    for b in range(2):
        stats = collect_file_stats(
            spark, f"{sink}/batch={b}", ["id"]
        ).withColumn("batch", F.lit(b))
        stats.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch").parquet(man)
    # per-batch store rows: id for both batches, v2 only for batch 1
    # (the collection convention: absent column, no row)
    rows0 = B.bloom_summary_rows(
        spark.read.parquet(f"{sink}/batch=0").withColumn(
            "batch", F.lit(0)
        ),
        ["id"],
        1 << 13,
        group_cols=["batch"],
    )
    rows1 = B.bloom_summary_rows(
        spark.read.parquet(f"{sink}/batch=1").withColumn(
            "batch", F.lit(1)
        ),
        ["id", "v2"],
        1 << 13,
        group_cols=["batch"],
    )
    rows0.unionByName(rows1).write.partitionBy("batch").parquet(blm)
    # keys confined to batch 0 by its envelope — the affected set lacks v2
    rep = R.erase_rows(
        spark, sink, man, "id", _keys(spark, [10, 20]),
        bloom_store_path=blm,
    )
    got = {r["batch"]: r for r in rep.collect()}
    assert got[0]["rows_erased"] == 2 and not got[1]["rewritten"]
    store = spark.read.parquet(blm)
    b0 = store.filter(F.col("batch") == 0).collect()
    assert {r["key_col"] for r in b0} == {"id"}
    assert int(b0[0]["n_keys"]) == 98  # refreshed through the delete
    v2rows = store.filter(
        (F.col("batch") == 1) & (F.col("key_col") == "v2")
    ).collect()
    assert len(v2rows) == 1 and int(v2rows[0]["n_keys"]) == 150


def test_repair_compaction_keys_on_own_marker(spark, tmp_path):
    """A durable staged compaction on a cluster that disables the
    writer's _SUCCESS file must still roll FORWARD: the decision keys
    on compact_batch's own commit marker, not _SUCCESS (ADVICE r11).
    Without either artifact the staging is torn and the partition is
    restored from trash."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.formats import (
        compact_batch,
        repair_compaction,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    def build(d):
        sink, man = str(d / "sink"), str(d / "man")
        for m in range(3):
            spark.range(m * 50, m * 50 + 50).select(
                F.col("id")
            ).coalesce(1).write.mode("append").parquet(f"{sink}/batch=0")
        stats = collect_file_stats(
            spark, f"{sink}/batch=0", ["id"]
        ).withColumn("batch", F.lit(0))
        stats.write.partitionBy("batch").parquet(man)
        return sink, man

    # a successful compaction leaves no marker residue
    sink, man = build(tmp_path / "ok")
    compact_batch(spark, sink, man, 0)
    assert not _os.path.exists(f"{sink}/.compact_commit_batch=0.json")

    # mid-swap crash WITH the marker, _SUCCESS disabled: completed
    sink, man = build(tmp_path / "marked")
    spark.read.parquet(f"{sink}/batch=0").coalesce(1).write.parquet(
        f"{sink}/.compact_staging_batch=0"
    )
    _os.remove(f"{sink}/.compact_staging_batch=0/_SUCCESS")
    R._write_text(
        spark, f"{sink}/.compact_commit_batch=0.json", '{"batch": 0}'
    )
    _shutil.move(f"{sink}/batch=0", f"{sink}/.compact_trash_batch=0")
    rep = repair_compaction(spark, sink, man, 0).collect()[0]
    assert rep["action"] == "completed" and rep["consistent_after"]
    assert spark.read.parquet(f"{sink}/batch=0").count() == 150
    assert not _os.path.exists(f"{sink}/.compact_commit_batch=0.json")

    # mid-swap crash with NEITHER artifact: torn — restored from trash
    sink, man = build(tmp_path / "torn")
    spark.read.parquet(f"{sink}/batch=0").coalesce(1).write.parquet(
        f"{sink}/.compact_staging_batch=0"
    )
    _os.remove(f"{sink}/.compact_staging_batch=0/_SUCCESS")
    _shutil.move(f"{sink}/batch=0", f"{sink}/.compact_trash_batch=0")
    rep = repair_compaction(spark, sink, man, 0).collect()[0]
    assert rep["action"] == "restored" and rep["consistent_after"]
    assert spark.read.parquet(f"{sink}/batch=0").count() == 150


def test_repair_erasure_survives_vanished_journaled_store(spark, tmp_path):
    """A journal whose recorded bloom_store_path no longer exists (the
    store was deleted after the crash): the resume must not abort on
    the store read with the journal still on disk — it proceeds
    unmaintained, finishes the delete, and retires the journal."""
    sink, man = _build(spark, tmp_path)
    spark.createDataFrame(
        [(10,), (110,)], "id BIGINT"
    ).write.parquet(f"{sink}/.erase_keys")
    R._write_text(
        spark,
        f"{sink}/.erase_intent.json",
        _json.dumps(
            {
                "key_cols": ["id"],
                "bloom_store_path": str(tmp_path / "no_such_store"),
            }
        ),
    )
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep["erasure_resumed"] and rep["n_rows_erased_on_resume"] == 2
    assert rep["consistent_after"]
    assert not _os.path.exists(f"{sink}/.erase_intent.json")
    assert not _os.path.exists(f"{sink}/.erase_keys")


def test_audit_parquetless_sink_reads_empty(spark, tmp_path):
    """An emptied manifest paired with a sink directory holding NO
    parquet at all (out-of-band damage — the tool's own lifecycle
    always leaves zero-row schema files): the verdict must be a
    boolean, not an AnalysisException (ADVICE r12). Empty == empty is
    consistent."""
    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")
    _os.makedirs(sink)
    _os.makedirs(man)
    assert R._audit_ok(spark, sink, man)
    rep = R.repair_manifest(spark, sink, man).collect()[0]
    assert rep["consistent_after"] and rep["n_batches_repaired"] == 0


def test_skipped_resume_keeps_journal_when_sink_holds_rows(spark, tmp_path):
    """A manifest lost OUT-OF-BAND (every partition deleted behind the
    tool's back) while the sink still holds subject rows: the journal
    is the LAST record of what to erase, so the skipped-resume branch
    must not retire it (ADVICE r12) — consistent_after false and
    found_residue on every later repair keep the damage loud, and a
    rebuilt manifest lets the next repair finish the delete."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    sink, man = _build(spark, tmp_path)
    _journal(spark, sink, [10, 20])
    for b in range(2):
        _shutil.rmtree(f"{man}/batch={b}")
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    assert not rep["consistent_after"]
    # the journal survived — the subject rows are still recorded
    assert _os.path.exists(f"{sink}/.erase_intent.json")
    assert _os.path.exists(f"{sink}/.erase_keys")
    rep2 = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep2["found_residue"] and not rep2["consistent_after"]
    # the operator rebuilds the manifest; the NEXT repair resumes from
    # the preserved journal and finishes the compliance delete
    for b in range(2):
        stats = collect_file_stats(
            spark, f"{sink}/batch={b}", ["id"]
        ).withColumn("batch", F.lit(b))
        stats.write.mode("append").partitionBy("batch").parquet(man)
    rep3 = R.repair_erasure(spark, sink, man).collect()[0]
    assert rep3["erasure_resumed"] and rep3["n_rows_erased_on_resume"] == 2
    assert rep3["consistent_after"]
    assert not _os.path.exists(f"{sink}/.erase_keys")
    left = _ids(spark.read.parquet(sink))
    assert len(left) == 248 and not {10, 20} & set(left)


def test_erase_store_prevalidation_falls_back_to_mergeschema(
    spark, tmp_path
):
    """The store-column pre-validation samples ONE footer per batch
    dir; a batch with in-batch schema heterogeneity can hide a store
    column in a file the sample never reads. A would-be refusal now
    confirms with one mergeSchema union over the batch dirs before
    raising (ADVICE r12) — the footer sweep is paid only on that rare
    path. The evolved file is named outside the part- convention so
    the one-footer sample deterministically misses it."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources import (
        bloom as B,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        collect_file_stats,
    )

    sink, man, blm = (
        str(tmp_path / "sink"),
        str(tmp_path / "man"),
        str(tmp_path / "blm"),
    )
    spark.createDataFrame(
        [(i,) for i in range(50)], "id BIGINT"
    ).coalesce(1).write.parquet(f"{sink}/batch=0")
    # an out-of-band landed file carrying the evolved column
    tmp = str(tmp_path / "evolved")
    spark.createDataFrame(
        [(i, i * 2) for i in range(50, 100)], "id BIGINT, extra BIGINT"
    ).coalesce(1).write.parquet(tmp)
    src = next(n for n in _os.listdir(tmp) if n.startswith("part-"))
    _shutil.move(f"{tmp}/{src}", f"{sink}/batch=0/zz-evolved.parquet")
    stats = collect_file_stats(
        spark, f"{sink}/batch=0", ["id"]
    ).withColumn("batch", F.lit(0))
    stats.write.partitionBy("batch").parquet(man)
    rows = B.bloom_summary_rows(
        spark.read.option("mergeSchema", True)
        .parquet(f"{sink}/batch=0")
        .withColumn("batch", F.lit(0)),
        ["id", "extra"],
        1 << 13,
        group_cols=["batch"],
    )
    rows.write.partitionBy("batch").parquet(blm)
    # keys miss the envelope: no rewrite, no refresh — but pre-fix the
    # pre-validation refused this valid maintained erasure outright
    rep = R.erase_rows(
        spark, sink, man, "id", _keys(spark, [9999]),
        bloom_store_path=blm,
    )
    assert sum(r["rows_erased"] for r in rep.collect()) == 0
    assert (
        spark.read.option("mergeSchema", True).parquet(sink).count() == 100
    )


def test_audit_ignores_journal_residue_parquet(spark, tmp_path):
    """The parquet-less guards must count only parquet SPARK WOULD
    READ: a sink whose visible data was lost out-of-band may still
    hold the erasure journal's OWN parquet (.erase_keys/part-*) or
    staging residue under hidden directories, which spark.read.parquet
    ignores — counting them re-raises the AnalysisException the guard
    exists to pre-empt, stranding the journal in the permanent
    refusal loop (review r13, confirmed by reproduction against the
    pre-fix guard)."""
    sink, man = str(tmp_path / "sink"), str(tmp_path / "man")
    _os.makedirs(sink)
    _os.makedirs(man)
    _journal(spark, sink, [10, 20])
    # hidden residue only — no visible parquet anywhere
    assert not R._has_parquet(spark, sink)
    assert R._audit_ok(spark, sink, man)  # boolean, not AnalysisException
    rep = R.repair_erasure(spark, sink, man).collect()[0]
    # nothing visible to erase and the audit confirms empty == empty:
    # the repair completes and retires the journal instead of looping
    assert rep["found_residue"] and rep["consistent_after"]
    assert not _os.path.exists(f"{sink}/.erase_intent.json")
    assert not _os.path.exists(f"{sink}/.erase_keys")
    # a visible part- file outside hidden dirs still counts
    spark.range(3).coalesce(1).write.parquet(f"{sink}/batch=0")
    assert R._has_parquet(spark, sink)
