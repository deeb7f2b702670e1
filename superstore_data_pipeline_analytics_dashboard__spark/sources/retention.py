"""Targeted erasure over the batch-partitioned manifest sink — the
compliance delete ("right to be forgotten" / opt-out list) a training
corpus must support, without rewriting the table.

At 100 TB the naive delete — read everything, anti-join, write
everything — costs a full table rewrite for an opt-out list of a few
thousand keys. The manifest (``sources/manifest.py``) already knows
each FILE's key envelope, so erasure prunes at file grain (r10): only
the files whose own [min, max] can contain a doomed key are
rewritten; everything else — other files in the same batch included —
is untouched (zero read, zero write). A 3-file hit inside a 300-file
partition rewrites 1% of the partition, not all of it. With a
range-clustered layout (z-order or range ingest) the affected set is
tiny; with a random layout every envelope spans the key space and
erasure honestly degrades to the full rewrite — the same
clustered-vs-random contrast the zone-map tests demonstrate for reads
— UNLESS the caller supplies per-batch Bloom summaries (``blooms=``,
r10): blooms prune point lookups independent of layout, confining the
rewrite to the batches that can actually contain a doomed key.

Mechanics are BATCHED, not per-partition (r10 — VERDICT r9 item 5):
the candidate files are grouped by their batch's exact file schema,
and each group is rewritten by ONE Spark job — read every candidate
file of the group in a single multi-path scan, anti-join against the
(broadcast) key list once, write the survivors to a hidden staging
tree partitioned by batch. Spark jobs therefore scale with the number
of DISTINCT SCHEMAS in the hit set (almost always 1, bounded by the
sink's evolution history), never with the number of hit files or
partitions — a 10k-batch table with 500 enveloped files costs two
jobs, not 500 sequential ones. Schema grouping is what keeps the
batching honest on an evolved sink: reading v1 and v2 partitions in
one scan would write the MERGED schema back into pre-evolution
batches, silently evolving data that a path-scoped snapshot pin
promised would never sprout columns. The driver still loops, but only
over renames — metadata ops, not jobs.

The swap is rename-based and file-level: doomed files are retired
into the hidden ``.erase_trash`` tree, then the rewritten files land
beside the untouched ones (fresh writer UUIDs — no name collisions).
The erasure is JOURNALED at two grains, which makes every crash
window REPAIRABLE — and the whole delete RESUMABLE — not just
detectable (r11): a once-per-call resumability journal
(``.erase_keys`` + ``.erase_intent.json``, written before any group
mutates the sink) and a per-group durability marker
(``.erase_commit.json``, written only after the group's staging write
commits — our own artifact rather than the writer's ``_SUCCESS``
file, which clusters can disable). Crash windows: (a) inside the
staging write — no commit marker, the sink is untouched,
``repair_erasure`` discards the torn staging tree; (b) between a
file's retire-rename and its replacement landing —
``manifest_consistency_audit`` reports the stale rows, and
``repair_erasure`` rolls the swap FORWARD from the commit + staged
survivors (forward is the only acceptable direction for a promised
compliance delete); (c) after the swaps and before the group's
manifest refresh — the landed files are unenveloped and the retired
files' rows stale, which the audit reports and ``repair_manifest``
reconciles; (d) before LATER schema groups ran at all — the
resumability journal outlives every window, and repair finishes the
delete by re-running the erasure from the journaled keys, so a
multi-group crash can never masquerade as a completed delete. A
successful call deletes its own journals and trees before returning;
crash residue is reclaimed by ``repair_erasure`` or, once repaired,
``vacuum_maintenance`` (which refuses to destroy load-bearing
residue). On object stores without cheap rename, land
the staging files as the new locations and flip the manifest instead
(the manifest IS that pointer in this layout). A batch whose every
row is doomed gets a zero-row schema-bearing file (deleting the dir
could leave the sink with no parquet files at all) and its manifest
rows are dropped — pruned reads would otherwise chase files that no
longer hold the recorded data.

Manifest refresh is incremental: untouched files KEEP their
pre-erasure manifest rows verbatim (no rescan), only the rewritten
files are scanned for fresh stats; the refreshed batch partitions are
rebuilt driver-side from those metadata-sized row sets so the
overwrite never reads the path it writes.

Erasure deliberately BREAKS old snapshots (``sources/snapshots.py``):
a version that recorded the pre-erasure row counts now fails its drift
audit — correct, auditable behavior: compliance deletion must win over
reproducibility, and the audit is how a reader finds out rather than
silently training on a smaller pin.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "erase_rows",
    "repair_erasure",
    "repair_manifest",
    "vacuum_maintenance",
]


def _fs(spark: SparkSession, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return (
        hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()),
        hpath,
    )


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath = _fs(spark, path)
    out = fs.create(hpath(path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, hpath = _fs(spark, path)
    stream = fs.open(hpath(path))
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _has_parquet(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and holds at least one parquet part
    file that SPARK WOULD READ (recursively, skipping files under
    hidden ``.``/``_`` path components — Spark's reader ignores
    those). A whole-table erasure legitimately drops EVERY manifest
    partition, and ``spark.read.parquet`` on the emptied directory
    raises (unable to infer schema) — repair paths use this guard to
    treat that state as nothing-left-to-reconcile instead of aborting
    mid-phase with the journal still on disk. The hidden-component
    skip matters for exactly that guard: a sink whose visible data
    was lost out-of-band may still hold the erasure journal's OWN
    parquet (``.erase_keys/part-*``) or staging/trash residue, and
    counting those would re-raise the AnalysisException this function
    exists to pre-empt (review r13)."""
    fs, hpath = _fs(spark, path)
    root = hpath(path)
    if not fs.exists(root):
        return False
    root_str = fs.makeQualified(root).toString().rstrip("/")
    it = fs.listFiles(root, True)
    while it.hasNext():
        p = it.next().getPath()
        if not p.getName().startswith("part-"):
            continue
        rel = p.toString()[len(root_str):].strip("/")
        # directory components between the root and the file: any
        # hidden one (.erase_keys, .compact_staging_*, _tmp...) means
        # Spark's reader would never see this file
        if any(
            c.startswith((".", "_")) for c in rel.split("/")[:-1]
        ):
            continue
        return True
    return False


def _require_dir(spark: SparkSession, path: str, what: str) -> None:
    """Raise on a path that does not exist AT ALL — a mistyped
    argument. Distinct from the legitimately-EMPTIED state (a
    whole-table erasure drops every ``batch=`` partition but the root
    directory, with the writer's ``_SUCCESS``, survives): an emptied
    manifest is consistent-iff-the-sink-is-empty, a nonexistent one is
    an operator error that must never read as 'repaired'."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath(path)):
        raise ValueError(
            f"{what} path {path} does not exist — mistyped argument? "
            "(a legitimately emptied manifest keeps its root directory)"
        )




def _fresh_stat_rows(
    spark: SparkSession,
    sink_path: str,
    files_by_sig: dict[tuple, list[str]],
    stat_cols: list[str],
    man_types: dict,
    man_columns: list[str],
) -> list:
    """Collect fresh manifest rows (n_rows + min_/max_ stats for every
    tracked column, evolved-away columns padded as typed NULLs, cast to
    the manifest's schema) for the given files — ONE scan per
    footer-schema group (a mixed-schema scan would NULL-pad
    pre-evolution files with merged columns). Shared by erase_rows'
    post-rewrite refresh and repair_manifest's re-enveloping so the
    two cannot drift."""
    rows: list = []
    for sig, uris in files_by_sig.items():
        if not uris:
            continue
        present = [c for c in stat_cols if c in {n for n, _ in sig}]
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in present:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        stats = (
            spark.read.option("basePath", sink_path)
            .parquet(*uris)
            .select(F.input_file_name().alias("file"), "batch", *present)
            .groupBy("file", "batch")
            .agg(*aggs)
        )
        for c in stat_cols:
            if c not in present:
                stats = stats.withColumn(
                    f"min_{c}", F.lit(None).cast(man_types[f"min_{c}"])
                ).withColumn(
                    f"max_{c}", F.lit(None).cast(man_types[f"max_{c}"])
                )
        rows.extend(
            stats.select(
                *(F.col(c).cast(man_types[c]).alias(c) for c in man_columns)
            ).collect()
        )
    return rows


def erase_rows(
    spark: SparkSession,
    sink_path: str,
    manifest_path: str,
    key_col: str | Sequence[str],
    keys: DataFrame,
    blooms: dict[str, DataFrame] | None = None,
    bloom_n_bits: int | None = None,
    bloom_n_hashes: int | None = None,
    bloom_store_path: str | None = None,
) -> DataFrame:
    """Delete every row whose ``key_col`` value (or composite tuple,
    when a list of columns is given) appears in ``keys`` from the sink,
    rewriting only the FILES whose manifest envelope intersects the
    key list. Returns the erasure report — one row per batch:
    ``(batch, rewritten, rows_before, rows_erased, rows_after)`` with
    ``rewritten`` true iff at least one of the batch's file envelopes
    admitted a key (conservative: an admitting file is rewritten even
    if no actual row matches) — exact integers, the compliance
    evidence. Untouched-file counts come from the (audited) manifest;
    rewritten-file counts from the post-rewrite scan.

    Composite keys make pruning MULTIPLICATIVE on clustered layouts: a
    file can contain a doomed ``(a, b)`` tuple only if ``a`` fits its
    ``a``-envelope AND ``b`` fits its ``b``-envelope, so a z-order /
    grid-clustered sink confines the rewrite to the intersecting cells
    — a single-column envelope would rewrite the whole stripe along
    the other dimension. Every key column must have recorded
    ``min_/max_`` stats in the manifest (raises otherwise); the
    manifest refresh keeps untouched files' rows verbatim and
    re-collects ALL tracked columns' stats for the rewritten files, so
    later pruned reads on other columns stay correct.

    Scale shape: candidate selection is one pass of the key list over
    the broadcast per-file envelope table; the hit set is then
    rewritten in ONE anti-join job per distinct partition schema (plus
    one stats scan of only the rewritten files per schema group) — the
    key list is broadcast into those rewrites (opt-out lists are
    key-sized, not data-sized). Driver-side loops hold only file
    URIs, manifest stat rows for affected batches, rename handles and
    counts — metadata volumes, the same class as ``read_pruned``'s
    file lists; never data rows, never one Spark job per partition.

    NULL keys in the opt-out list RAISE (same NULL-policy documentation
    pattern as operators/topk.py): both the envelope range semi-join
    and the per-partition ``==`` anti-join are null-rejecting, so a
    NULL entry would be a silent no-op — for a compliance delete,
    "silently did not erase" is the one unacceptable behavior. A NULL
    cannot identify a data subject; callers holding NULL-keyed sink
    rows they want gone should delete them by predicate, not by key
    list.

    ``blooms`` (optional) intersects the envelope candidates with
    per-batch Bloom summaries (``sources/bloom.py``, a dict of key
    column → ``collect_batch_blooms`` frame): on RANDOM layouts, where
    every envelope spans the key space and erasure would honestly
    degrade to a full-table rewrite, blooms confine the rewrite to the
    batches that can actually contain a doomed key. The intersection
    is tuple-precise for composite keys (a batch survives only if,
    for EVERY bloomed column, it may contain that column's component
    of SOME single doomed tuple) and conservative by construction —
    a bloom never has false negatives, so no containing batch is ever
    skipped. COMPLIANCE CONTRACT: the bloom must be CURRENT — built
    or rebuilt after the sink's last append. A bloom built before a
    deletion stays safe (over-approximation survives row removal; in
    particular this erasure does not invalidate it), but one built
    before an APPEND can hide the appended rows — for a compliance
    delete, pass no bloom rather than a possibly-stale one. The one
    staleness detected here is a whole new batch: an envelope-admitted
    batch with no summary row is kept affected, never pruned.

    ``bloom_store_path`` (optional) keeps an on-disk Bloom store
    CURRENT through the delete: after the swap, the rewritten batches'
    summary rows are re-collected under the store's own recorded
    geometry (one scan of those batches — a summary covers untouched
    files too, so this is batch-sized, but still confined to the
    batches the erasure touched) and fully-emptied batches drop their
    store partition. Without it, an in-place erasure leaves the store
    safely over-approximating (no false negatives — deletions cannot
    hide rows) but no longer CURRENT, which ``bloom_store_audit``
    reports as count mismatches / orphan rows."""
    cols = [key_col] if isinstance(key_col, str) else list(key_col)
    bad = sorted(set(blooms or ()) - set(cols))
    if bad:
        raise ValueError(
            f"erase_rows: bloom provided for non-key column(s) {bad}"
        )
    if bloom_store_path is not None:
        # validate BEFORE any irreversible file work: a mistyped path,
        # an inconsistent store, or a store-recorded column the sink no
        # longer holds would otherwise abort after the swap (the
        # refresh's summary collection needs every recorded column),
        # losing the erasure report and leaving the store stale despite
        # the maintenance flag
        store_bits, _ = _load_store_geometry(spark, bloom_store_path)
        # union schema from ONE sampled footer per batch dir
        # (the landing convention is one schema per batch, and this
        # check is advisory fail-early: the refresh itself skips absent
        # columns, so under-sampling can at worst delay detection,
        # never corrupt). A full-sink mergeSchema read here would be a
        # per-erasure footer sweep of EVERY file — the jobs-∝-inventory
        # shape file-grain erasure exists to avoid. The sampled footers
        # are merged in ONE multi-path read (it was one DataFrame
        # construction + footer read per batch dir — #batches driver
        # round trips per maintained erasure); cross-batch TYPE
        # conflicts, which the name-union tolerates but schema merging
        # refuses, fall back to the per-batch loop.
        vfs, vhp = _fs(spark, sink_path)
        sample_parts: list[str] = []
        for st in vfs.listStatus(vhp(sink_path)):
            if not st.isDirectory() or not st.getPath().getName(
            ).startswith("batch="):
                continue
            part = next(
                (
                    s.getPath().toString()
                    for s in vfs.listStatus(st.getPath())
                    if s.getPath().getName().startswith("part-")
                ),
                None,
            )
            if part is not None:
                sample_parts.append(part)
        sink_union: set[str] = set()
        if sample_parts:
            try:
                sink_union = {
                    f.name
                    for f in spark.read.option("mergeSchema", True)
                    .parquet(*sample_parts)
                    .schema
                }
            except Exception:
                for part in sample_parts:
                    sink_union.update(
                        f.name for f in spark.read.parquet(part).schema
                    )
        absent = sorted(set(store_bits) - sink_union)
        if absent:
            # the one-footer-per-batch sample above is advisory: a
            # batch with in-batch schema heterogeneity (or listing-order
            # variance) can hide a column present in unsampled files.
            # Before refusing a valid maintained erasure, confirm with
            # ONE mergeSchema union over the batch dirs — the footer
            # sweep is paid only on the (rare) would-be-refusal path,
            # never per-erasure (ADVICE r12).
            batch_dirs = [
                st.getPath().toString()
                for st in vfs.listStatus(vhp(sink_path))
                if st.isDirectory()
                and st.getPath().getName().startswith("batch=")
            ]
            if batch_dirs:
                full_union = {
                    f.name
                    for f in spark.read.option("mergeSchema", True)
                    .option("basePath", sink_path)
                    .parquet(*batch_dirs)
                    .schema
                }
                absent = sorted(set(store_bits) - full_union)
        if absent:
            raise ValueError(
                f"erase_rows: the bloom store at {bloom_store_path} "
                f"records column(s) {absent} absent from the sink "
                "schema — the post-swap store refresh could not collect "
                "them; run bloom_store_audit / repair_bloom_store "
                "before maintaining the store through an erasure"
            )
    man = spark.read.parquet(manifest_path)
    stat_cols = [c[len("min_") :] for c in man.columns if c.startswith("min_")]
    unenveloped = [c for c in cols if c not in stat_cols]
    if unenveloped:
        raise ValueError(
            f"erase_rows: manifest records no min_/max_ stats for "
            f"{unenveloped} (has: {stat_cols}) — rebuild the manifest "
            "with these columns before keyed erasure"
        )
    env = man.groupBy(F.col("batch").cast("long").alias("batch")).agg(
        F.sum("n_rows").alias("rows_before")
    )
    k = (
        keys.select(*(F.col(c).alias(f"k_{c}") for c in cols))
        .distinct()
        .persist()
    )
    # NULL policy (docstring): a NULL opt-out key would no-op silently
    # through every null-rejecting join below — refuse it loudly
    any_null = functools.reduce(
        lambda a, b: a | b, (F.col(f"k_{c}").isNull() for c in cols)
    )
    # FILE-grain candidates (r10): the manifest is per-file, so within
    # an affected batch only the files whose own [min,max] envelopes
    # intersect the key list are rewritten — a 3-file hit inside a
    # 300-file partition rewrites 1% of it, not all of it. This is
    # also TIGHTER than the batch aggregate: a key falling in the gap
    # between two files' ranges hits the batch envelope but no file
    # envelope, and correctly rewrites nothing. NULL stats (a
    # pre-evolution file that lacks a later-added key column) are
    # null-rejecting here, which is CORRECT: no column, no key.
    in_env_file = functools.reduce(
        lambda a, b: a & b,
        (
            (F.col(f"k_{c}") >= F.col(f"min_{c}"))
            & (F.col(f"k_{c}") <= F.col(f"max_{c}"))
            for c in cols
        ),
    )
    cand = man.join(k, in_env_file, "left_semi").select(
        F.col("batch").cast("long").alias("batch"), "file", "n_rows"
    )
    # ONE planning action (r14, VERDICT r13 item 1 — the chains are
    # driver-job-count-bound): the persisted key list's NULL count, the
    # per-batch pre-erasure totals and the file-grain envelope
    # candidates are three independent metadata-sized frames; collect
    # them as one tagged union instead of three driver-sequenced
    # actions. Collected NOW, because the report must describe the
    # PRE-erasure manifest and everything below mutates it (the
    # one-shot-lazy trap: a frame read lazily after the rewrite would
    # silently describe the post-erasure state). The union also
    # materializes the persisted key list, exactly like the separate
    # NULL-check job used to.
    planning = (
        k.agg(F.sum(any_null.cast("long")).alias("n"))
        .select(
            F.lit(0).alias("__tag"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("batch"),
            F.lit(None).cast("string").alias("file"),
            F.lit(None).cast("long").alias("n_rows"),
        )
        .unionByName(
            env.select(
                F.lit(1).alias("__tag"),
                "batch",
                F.lit(None).cast("string").alias("file"),
                F.col("rows_before").cast("long").alias("n_rows"),
            )
        )
        .unionByName(
            cand.select(
                F.lit(2).alias("__tag"),
                "batch",
                "file",
                F.col("n_rows").cast("long").alias("n_rows"),
            )
        )
    )
    # with blooms, the batches each summary frame covers ride along
    # (tag 3, the key column in ``file``): the bloom intersection below
    # must not prune an envelope candidate they do not cover
    for c, bl in (blooms or {}).items():
        rows_c = (
            bl.filter(F.col("key_col") == c) if "key_col" in bl.columns else bl
        )
        planning = planning.unionByName(
            rows_c.select(
                F.lit(3).alias("__tag"),
                F.col("batch").cast("long").alias("batch"),
                F.lit(c).alias("file"),
                F.lit(None).cast("long").alias("n_rows"),
            )
        )
    planning = planning.collect()
    if any(int(r["batch"]) for r in planning if r["__tag"] == 0):
        k.unpersist()
        raise ValueError(
            "erase_rows: opt-out key list contains NULL — a NULL cannot "
            "identify a data subject and would silently erase nothing "
            "(null-rejecting envelope/anti joins); drop it or delete "
            "NULL-keyed rows by predicate instead"
        )
    before_counts = {
        int(r["batch"]): int(r["n_rows"]) for r in planning if r["__tag"] == 1
    }
    cand_by_batch: dict[int, list[str]] = {}
    cand_rows_by_batch: dict[int, int] = {}
    for r in planning:
        if r["__tag"] != 2:
            continue
        b = int(r["batch"])
        cand_by_batch.setdefault(b, []).append(r["file"])
        cand_rows_by_batch[b] = cand_rows_by_batch.get(b, 0) + int(
            r["n_rows"]
        )
    affected = sorted(cand_by_batch)
    summarized: dict[str, set[int]] = {}
    for r in planning:
        if r["__tag"] == 3:
            summarized.setdefault(r["file"], set()).add(int(r["batch"]))

    # the pre-erasure manifest rows of every affected batch are
    # metadata-sized (#files-in-affected-batches rows, same class as
    # the envelope collect): untouched files keep these rows verbatim
    # in the refreshed manifest, and collecting up front avoids
    # re-reading manifest partitions an earlier schema group's refresh
    # already replaced (a lazily re-read listing snapshot would chase
    # deleted files). With blooms the pre-rows and the bloom-confined
    # batch set come back in ONE tagged action (r14 job-count fold):
    # the pre-row branch is semi-joined to the bloom candidates
    # ENGINE-side, so the collect stays bounded by the FINAL affected
    # batches — never the envelope superset (a random layout's
    # envelopes admit everything).
    man_row = Row(*man.columns)
    pre_frame = man.filter(F.col("batch").cast("long").isin(affected))
    if blooms and affected:
        from .bloom import bloom_candidates

        # xxhash64 is type-sensitive: probe with exactly the sink's
        # column types or positions won't match the collected ones
        sink_types = {
            f.name: f.dataType
            for f in spark.read.parquet(sink_path).schema.fields
        }
        kc = [f"k_{c}" for c in cols]
        bcand = None
        for c, bl in blooms.items():
            probe = (
                k.select(F.col(f"k_{c}").cast(sink_types[c]).alias(c))
                .distinct()
            )
            cc = bloom_candidates(
                bl, probe, c, bloom_n_bits, bloom_n_hashes
            )
            j = k.join(
                cc, k[f"k_{c}"].cast(sink_types[c]) == cc[c]
            ).select(*kc, "batch")
            bcand = (
                j
                if bcand is None
                else bcand.join(j, [*kc, "batch"], "left_semi")
            )
        # an envelope-admitted batch with NO summary row for a bloomed
        # column stays affected: a batch whose key column is all NULL
        # is never an envelope candidate, so a missing row means the
        # summaries predate the batch (a stale bloom — e.g. a re-read
        # of the sink served from an older cache entry) and cannot
        # prune it. Such a batch is never a bloom candidate either, so
        # its pre-rows are a disjoint union branch.
        unsummarized = [
            b
            for b in affected
            if any(b not in summarized.get(c, ()) for c in blooms)
        ]
        # persisted: BOTH union branches below read it (the ok_b rows
        # themselves and the pre-row semi-join's build side) — without
        # the persist each branch would re-run the whole per-column
        # bloom-candidate pipeline (measured: q279's tagged collect was
        # 52 jobs unpersisted)
        ok_b = (
            bcand.select(F.col("batch").cast("long").alias("__okb"))
            .distinct()
            .persist()
        )
        kept_pre = pre_frame.join(
            ok_b,
            pre_frame["batch"].cast("long") == ok_b["__okb"],
            "left_semi",
        )
        if unsummarized:
            kept_pre = kept_pre.unionByName(
                pre_frame.filter(
                    F.col("batch").cast("long").isin(unsummarized)
                )
            )
        tagged = (
            ok_b.select(
                F.lit(0).alias("__tag"),
                F.col("__okb"),
                *(F.lit(None).cast(f.dataType).alias(f.name)
                  for f in man.schema.fields),
            )
            .unionByName(
                kept_pre.select(
                    F.lit(1).alias("__tag"),
                    F.lit(None).cast("long").alias("__okb"),
                    *man.columns,
                )
            )
            .collect()
        )
        ok_b.unpersist()  # the collect above materialized every reader
        bloom_ok = {
            int(r["__okb"]) for r in tagged if r["__tag"] == 0
        } | set(unsummarized)
        affected = [b for b in affected if b in bloom_ok]
        pre_rows = [
            man_row(*(r[c] for c in man.columns))
            for r in tagged
            if r["__tag"] == 1
        ]
    else:
        pre_rows = pre_frame.collect() if affected else []

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    man_types = {f.name: f.dataType for f in man.schema.fields}
    # drop candidate entries for bloom-pruned batches so the rewrite,
    # retire and manifest bookkeeping below never touch them
    cand_by_batch = {b: cand_by_batch[b] for b in affected}
    cand_uri_set = {u for us in cand_by_batch.values() for u in us}

    # group the hit set by exact file schema: one rewrite job per GROUP
    # (see module docstring — mixing schemas in one scan would write
    # the merged schema back into pre-evolution batches). Schema reads
    # are driver-side footer lookups, not jobs.
    # each batch's signature comes from its CANDIDATE files' own footers
    # (one driver-side footer read per hit file — ∝ files being rewritten
    # anyway, never the whole dir), not a one-file sample of the batch
    # dir: a sampled footer could disagree with the files actually
    # scanned if a writer ever violated the one-schema-per-batch landing
    # convention, and the grouped multi-path rewrite would then silently
    # DROP (or NULL-pad) columns of the non-sampled candidates — the
    # exact merged-schema corruption the grouping exists to prevent, one
    # level down. Candidates that disagree among themselves fail loudly.
    groups: dict[tuple, list[int]] = {}
    for b in affected:
        sigs = {
            tuple(
                (f.name, f.dataType.simpleString())
                for f in spark.read.parquet(u).schema
            )
            for u in cand_by_batch[b]
        }
        if len(sigs) > 1:
            raise ValueError(
                f"erase_rows: batch {b}'s hit files hold heterogeneous "
                f"schemas ({sorted(sorted(s) for s in sigs)}) — rewriting "
                "them in one scan would corrupt whichever files the "
                "scan schema wasn't sampled from; compact or re-land "
                "the batch to one schema first"
            )
        groups.setdefault(sigs.pop(), []).append(b)

    kept_counts: dict[int, int] = {}
    staging = f"{sink_path}/.erase_staging"
    trash = f"{sink_path}/.erase_trash"
    commit_path = f"{sink_path}/.erase_commit.json"
    keys_path = f"{sink_path}/.erase_keys"
    intent_path = f"{sink_path}/.erase_intent.json"
    fs = hpath(sink_path).getFileSystem(hconf)
    if groups:
        # RESUMABILITY journal, written ONCE before any group mutates
        # the sink: the distinct opt-out keys (key-sized parquet) plus
        # the erasure intent. A crash in ANY group — including groups
        # the crashed call never reached — leaves these behind, and
        # repair_erasure finishes the whole delete by re-running
        # erase_rows from them after its file/manifest reconciliation
        # (a partial compliance delete that READS as repaired would be
        # worse than no repair at all). Both are deleted only after
        # the last group's refresh completes. The key list necessarily
        # persists on disk until then — it must, for the delete to be
        # resumable — under the same hidden-tree visibility rules as
        # the staging/trash residue.
        fs.delete(hpath(keys_path), True)
        k.select(*(F.col(f"k_{c}").alias(c) for c in cols)).write.parquet(
            keys_path
        )
        _write_text(
            spark,
            intent_path,
            json.dumps(
                {"key_cols": cols, "bloom_store_path": bloom_store_path}
            ),
        )
    for sig, bs in groups.items():
        files = [u for b in bs for u in cand_by_batch[b]]
        src = spark.read.option("basePath", sink_path).parquet(*files)
        same_key = functools.reduce(
            lambda a, b: a & b,
            (src[c] == F.col(f"k_{c}") for c in cols),
        )
        kept = src.join(F.broadcast(k), same_key, "left_anti")
        # ONE job rewrites every candidate file of this schema group
        fs.delete(hpath(staging), True)
        fs.delete(hpath(trash), True)
        fs.delete(hpath(commit_path), False)
        untouched_files = {
            b: [
                r["file"]
                for r in pre_rows
                if int(r["batch"]) == b and r["file"] not in cand_uri_set
            ]
            for b in bs
        }
        kept.write.partitionBy("batch").parquet(staging)
        # DURABILITY marker, written only AFTER the staging write
        # committed: its presence is what tells repair_erasure the
        # staged survivors are complete and the swap must roll FORWARD
        # (completing the swap is the original erasure's semantics —
        # for a compliance delete, forward is the only acceptable
        # direction once staging is durable). Deliberately our own
        # artifact, not the writer's _SUCCESS file: clusters that set
        # mapreduce.fileoutputcommitter.marksuccessfuljobs=false would
        # otherwise make a durable staging look torn and a discarding
        # "repair" would destroy the only copies of the surviving
        # rows. Metadata-sized: candidate URIs and untouched-file
        # counts per batch.
        _write_text(
            spark,
            commit_path,
            json.dumps(
                {
                    "batches": {
                        str(b): {
                            "files": cand_by_batch[b],
                            "n_untouched": len(untouched_files[b]),
                        }
                        for b in bs
                    }
                }
            ),
        )
        # a partitioned write produces a batch=N dir only for batches
        # with surviving rewritten rows
        surv: set[int] = set()
        for st in fs.listStatus(hpath(staging)):
            name = st.getPath().getName()
            if name.startswith("batch="):
                surv.add(int(name.split("=", 1)[1]))
        emptied = [
            b for b in bs if b not in surv and not untouched_files[b]
        ]
        empty_file = None
        if emptied:
            # a fully-emptied batch still lands ONE zero-row file with
            # the group's schema (written once per group, copied per
            # batch): dropping the dir outright could leave the sink
            # with zero parquet files (an opt-out list covering the
            # whole table), making the path schema-uninferable
            tmpl = f"{sink_path}/.erase_empty"
            fs.delete(hpath(tmpl), True)
            src.limit(0).drop("batch").coalesce(1).write.parquet(tmpl)
            empty_file = next(
                st.getPath()
                for st in fs.listStatus(hpath(tmpl))
                if st.getPath().getName().startswith("part-")
            )
        # swap loop: renames/copies only (metadata-sized ops, no jobs).
        # Per batch: retire the doomed files into the hidden trash tree,
        # land the rewritten files beside the untouched ones (fresh
        # writer UUIDs — no name collisions). See module docstring for
        # the crash windows and which audit catches each.
        moved: dict[int, list[str]] = {}
        for b in bs:
            part = f"{sink_path}/batch={b}"
            fs.mkdirs(hpath(f"{trash}/batch={b}"))
            for u in cand_by_batch[b]:
                name = u.rsplit("/", 1)[1]
                if not fs.rename(
                    hpath(u), hpath(f"{trash}/batch={b}/{name}")
                ):
                    raise IOError(
                        f"erase swap failed: could not retire {u}"
                    )
            moved[b] = []
            st_dir = hpath(f"{staging}/batch={b}")
            if b in surv:
                for st in fs.listStatus(st_dir):
                    name = st.getPath().getName()
                    if not name.startswith("part-"):
                        continue
                    if not fs.rename(st.getPath(), hpath(f"{part}/{name}")):
                        raise IOError(
                            f"erase swap failed: could not land "
                            f"{name} into batch {b}"
                        )
                    moved[b].append(f"{part}/{name}")
            if b in emptied:
                kept_counts[b] = 0
                fs.mkdirs(hpath(part))
                jvm.org.apache.hadoop.fs.FileUtil.copy(
                    fs,
                    empty_file,
                    fs,
                    hpath(f"{part}/{empty_file.getName()}"),
                    False,
                    hconf,
                )
                # no manifest rows for a zero-row batch — dynamic
                # overwrite cannot land zero rows, and stale rows
                # would send pruned reads at files that no longer hold
                # the recorded data
                fs.delete(hpath(f"{manifest_path}/batch={b}"), True)
        fs.delete(hpath(staging), True)
        fs.delete(hpath(trash), True)
        if emptied:
            fs.delete(hpath(f"{sink_path}/.erase_empty"), True)

        with_manifest = [b for b in bs if b not in emptied]
        if not with_manifest:
            # this group's work (incl. manifest-row drops) is complete
            fs.delete(hpath(commit_path), False)
            continue
        # one scan of ONLY the rewritten files serves both the report
        # counts and the manifest refresh (stats must be collected
        # POST-swap: the manifest's `file` column holds live URIs that
        # pruned reads open directly); untouched files keep their
        # pre-erasure manifest rows verbatim — no rescan. Refresh
        # stats for EVERY column the manifest tracks (not just the
        # erasure keys) so other columns' pruned reads stay correct;
        # columns this group's schema lacks (pre-evolution batches)
        # are padded as typed NULLs so the manifest schema is stable.
        new_live = [f for b in with_manifest for f in moved.get(b, [])]
        new_rows_by_batch: dict[int, int] = {}
        new_stat_rows = _fresh_stat_rows(
            spark, sink_path, {sig: new_live}, stat_cols, man_types,
            man.columns,
        )
        for r in new_stat_rows:
            b = int(r["batch"])
            new_rows_by_batch[b] = new_rows_by_batch.get(b, 0) + int(
                r["n_rows"]
            )
        # refreshed partition content = untouched files' pre-erasure
        # rows + the rewritten files' fresh rows, rebuilt driver-side
        # (metadata volumes) so the overwrite never reads the path it
        # writes
        keep_old = [
            r
            for r in pre_rows
            if int(r["batch"]) in set(with_manifest)
            and r["file"] not in cand_uri_set
        ]
        refreshed = spark.createDataFrame(
            keep_old + new_stat_rows, man.schema
        )
        (
            refreshed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(manifest_path)
        )
        for b in with_manifest:
            untouched_rows = before_counts[b] - cand_rows_by_batch.get(
                b, 0
            )
            kept_counts[b] = untouched_rows + new_rows_by_batch.get(b, 0)
        # this group's work (incl. the manifest refresh) is complete
        fs.delete(hpath(commit_path), False)
    k.unpersist()
    if bloom_store_path is not None and affected:
        _refresh_bloom_store(
            spark, sink_path, bloom_store_path, affected, kept_counts
        )
    if groups:
        # the whole delete (every group + store refresh) is complete:
        # retire the resumability journal
        fs.delete(hpath(intent_path), False)
        fs.delete(hpath(keys_path), True)
    rows = [
        (
            b,
            b in kept_counts,
            before_counts[b],
            before_counts[b] - kept_counts.get(b, before_counts[b]),
            kept_counts.get(b, before_counts[b]),
        )
        for b in sorted(before_counts)
    ]
    return spark.createDataFrame(
        rows,
        "batch BIGINT, rewritten BOOLEAN, rows_before BIGINT, "
        "rows_erased BIGINT, rows_after BIGINT",
    )




def _load_store_geometry(
    spark: SparkSession, bloom_store_path: str
) -> tuple[dict[str, int], int]:
    """Read and validate an on-disk Bloom store's recorded geometry:
    one ``n_bits`` per column, one ``n_hashes`` store-wide. Raises on
    a missing/unreadable store or inconsistent geometry — callers run
    this BEFORE mutating anything the store describes."""
    store = spark.read.parquet(bloom_store_path)
    meta = (
        store.select("key_col", "n_bits", "n_hashes").distinct().collect()
    )
    bits = {r["key_col"]: int(r["n_bits"]) for r in meta}
    hashes = {int(r["n_hashes"]) for r in meta}
    if not meta or len(meta) != len(bits) or len(hashes) != 1:
        raise ValueError(
            f"the bloom store at {bloom_store_path} is empty or records "
            "inconsistent geometry — run bloom_store_audit and rebuild "
            "it before maintaining it through an erasure"
        )
    return bits, hashes.pop()


def _refresh_bloom_store(
    spark: SparkSession,
    sink_path: str,
    bloom_store_path: str,
    affected: list[int],
    kept_counts: dict[int, int],
) -> None:
    """Re-collect the Bloom store rows of the batches an erasure
    rewrote, so the store stays CURRENT through the delete (the
    maintenance story's last leg: streaming appends maintain it,
    compaction preserves it byte-identically, and with
    ``bloom_store_path=`` erasure refreshes it — ``bloom_store_audit``
    stays green end to end). One scan of the affected LIVE batches per
    the store's recorded geometry (a summary covers the whole batch,
    untouched files included, so the scan is batch-sized — still
    confined to the batches the erasure itself touched); fully-emptied
    batches drop their store partition outright."""
    from .bloom import bloom_summary_rows

    bits, n_hashes = _load_store_geometry(spark, bloom_store_path)
    fs, hpath = _fs(spark, bloom_store_path)
    live = [b for b in affected if kept_counts.get(b, 0) > 0]
    emptied = [b for b in affected if kept_counts.get(b, 0) == 0]
    refreshed: set[int] = set()
    src = present = None
    if live:
        src = (
            spark.read.option("basePath", sink_path)
            .option("mergeSchema", True)  # evolved batches in one scan
            .parquet(*(f"{sink_path}/batch={b}" for b in live))
        )
        # a recorded column can be legitimately absent from ALL the
        # affected batches (pre-evolution batches never held it, so
        # they never had summary rows for it either): collect only the
        # present ones — bloom_summary_rows would KeyError on an
        # absent column AFTER the swap, losing the erasure report
        present = [c for c in sorted(bits) if c in src.columns]
    if live and present:
        rows = bloom_summary_rows(
            src.select("batch", *present),
            present,
            bits,
            n_hashes,
            group_cols=["batch"],
        ).persist()
        refreshed = {
            int(r["batch"])
            for r in rows.select("batch").distinct().collect()
        }
        (
            rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(bloom_store_path)
        )
        rows.unpersist()
    # a live batch that produced NO summary rows (its remaining keys
    # are all NULL) gets nothing from the dynamic overwrite — its old
    # partition would survive as stale orphan rows; drop it alongside
    # the emptied batches
    for b in [*emptied, *(b for b in live if b not in refreshed)]:
        fs.delete(hpath(f"{bloom_store_path}/batch={b}"), True)


def _manifest_damage(
    spark: SparkSession, sink_path: str, man: DataFrame
) -> DataFrame:
    """One row per DAMAGED file: ``(batch, fname, file, damage)`` with
    ``damage`` ∈ stale / unenveloped / mismatch — a full-outer
    ENGINE-side join of the on-disk per-file row counts against the
    manifest's recorded ones, on (batch, basename), the audit's
    identity key (one multi-partition write reuses a task's file name
    across batch dirs, so basenames are only unique within a batch).
    ``file`` is the disk-side URI (NULL for stale rows — dropping them
    needs no URI). This frame is what ``repair_manifest`` collects, so
    the driver holds rows ∝ damage, never the file inventory."""
    src = spark.read.option("basePath", sink_path).parquet(sink_path)
    disk = (
        src.groupBy(
            F.input_file_name().alias("file"),
            F.col("batch").cast("long").alias("batch"),
        )
        .agg(F.count(F.lit(1)).alias("disk_rows"))
        .withColumn("fname", F.element_at(F.split("file", "/"), -1))
    )
    rec = man.select(
        F.col("batch").cast("long").alias("batch"),
        F.element_at(F.split("file", "/"), -1).alias("fname"),
        F.col("n_rows").alias("man_rows"),
    )
    j = disk.select("batch", "fname", "file", "disk_rows").join(
        rec, ["batch", "fname"], "full_outer"
    )
    return j.select(
        "batch",
        "fname",
        "file",
        F.when(F.col("disk_rows").isNull(), F.lit("stale"))
        .when(F.col("man_rows").isNull(), F.lit("unenveloped"))
        .when(F.col("disk_rows") != F.col("man_rows"), F.lit("mismatch"))
        .alias("damage"),
    ).filter(F.col("damage").isNotNull())


def repair_manifest(
    spark: SparkSession, sink_path: str, manifest_path: str
) -> DataFrame:
    """Detect-and-REPAIR for the zone-map manifest — the pairing
    ``manifest_consistency_audit`` was missing (the audit reports
    stale rows, unenveloped files and row-count drift; this fixes
    them, the q213 unknown-member-repair loop applied to the storage
    layer). Each damage class maps to one action:

    * stale rows (manifest points at a file no longer on disk —
      a retired/deleted file whose refresh never ran): DROPPED;
    * unenveloped files (on disk, never recorded — a crash between a
      data write and its manifest write, e.g. erasure crash window
      (c)): stats collected and ENVELOPED, one scan of exactly those
      files per footer-schema group (the erase_rows convention — a
      mixed-schema scan would pad pre-evolution files with merged
      columns);
    * row-count mismatches (both present, counts disagree — stats from
      a different write than what survived): RE-SCANNED with the
      unenveloped files.

    Only the damaged batches' manifest partitions are rebuilt
    (driver-side, metadata-sized row sets, dynamic overwrite — the
    erase_rows refresh discipline); a batch whose repaired row set is
    empty has its partition dropped (the emptied-batch convention).
    Detection needs the audit's per-file row counts, so the cost is
    one narrow count scan of the sink plus one stats scan of only the
    damaged files — incident response, not a hot path. Damage
    CLASSIFICATION is a full-outer DataFrame join (the audit's own
    shape), and the driver collects only the damaged rows plus the
    damaged BATCHES' surviving manifest rows (needed to rebuild those
    partitions) — never the full file inventory: on a 10⁷-file sink
    with three damaged files in one batch, the collect is three rows
    plus that batch's row set (r12, VERDICT r11 item 3).

    A manifest directory with NO partitions left (a whole-table
    erasure drops every one) is consistent iff the sink holds no data
    rows — there is no recorded schema to re-envelope into, so repair
    reports rather than invents one.

    Returns one row: ``(n_stale_rows_dropped, n_files_reenveloped,
    n_count_refreshed, n_batches_repaired, consistent_after)`` where
    ``consistent_after`` re-runs the audit's criteria post-repair."""
    from ..streaming.audit import manifest_consistency_audit

    _require_dir(spark, manifest_path, "repair_manifest: manifest")
    if not _has_parquet(spark, manifest_path):
        # a parquet-less SINK is out-of-band damage (the tool's own
        # lifecycle always leaves zero-row schema files) — report it as
        # empty rather than aborting the repair on an unreadable read
        sink_empty = not _has_parquet(spark, sink_path) or (
            spark.read.parquet(sink_path).limit(1).count() == 0
        )
        return spark.createDataFrame(
            [(0, 0, 0, 0, sink_empty)],
            "n_stale_rows_dropped BIGINT, n_files_reenveloped BIGINT, "
            "n_count_refreshed BIGINT, n_batches_repaired BIGINT, "
            "consistent_after BOOLEAN",
        )
    man = spark.read.parquet(manifest_path)
    man_types = {f.name: f.dataType for f in man.schema.fields}
    stat_cols = [c[len("min_") :] for c in man.columns if c.startswith("min_")]
    dmg_rows = _manifest_damage(spark, sink_path, man).collect()
    stale = [r for r in dmg_rows if r["damage"] == "stale"]
    unenv = [r for r in dmg_rows if r["damage"] == "unenveloped"]
    mismatch = [r for r in dmg_rows if r["damage"] == "mismatch"]
    affected = sorted({int(r["batch"]) for r in dmg_rows})
    rescan = unenv + mismatch
    fresh_rows = []
    if rescan:
        # one stats scan per footer-schema group of the damaged files
        # (the shared erase_rows refresh helper — same NULL-padding and
        # casting policy, so the two paths cannot drift)
        groups: dict[tuple, list[str]] = {}
        for r in rescan:
            sch = spark.read.parquet(r["file"]).schema
            sig = tuple((f.name, f.dataType.simpleString()) for f in sch)
            groups.setdefault(sig, []).append(r["file"])
        fresh_rows = _fresh_stat_rows(
            spark, sink_path, groups, stat_cols, man_types, man.columns
        )
    if affected:
        fs, hpath = _fs(spark, manifest_path)
        # the damaged batches' SURVIVING rows, via anti-join against
        # the damaged (batch, basename) keys — collected because the
        # dynamic overwrite rebuilds whole partitions driver-side (it
        # must not read the path it writes); bounded by the damaged
        # batches' file counts, never the sink's
        base = F.element_at(F.split("file", "/"), -1)
        bad_keys = spark.createDataFrame(
            [
                (int(r["batch"]), r["fname"])
                for r in dmg_rows
                if r["damage"] != "unenveloped"
            ]
            or [(-1, "")],
            "b BIGINT, fname STRING",
        )
        keep = (
            man.withColumn("b", F.col("batch").cast("long"))
            .withColumn("fname", base)
            .filter(F.col("b").isin(affected))
            .join(bad_keys, ["b", "fname"], "left_anti")
            .select(man.columns)
            .collect()
        )
        refreshed = keep + fresh_rows
        if refreshed:
            (
                spark.createDataFrame(refreshed, man.schema)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch")
                .parquet(manifest_path)
            )
        refreshed_batches = {int(r["batch"]) for r in refreshed}
        for b in affected:
            if b not in refreshed_batches:
                fs.delete(hpath(f"{manifest_path}/batch={b}"), True)
    ok = bool(
        manifest_consistency_audit(spark, sink_path, manifest_path)
        .collect()[0]["consistent"]
    )
    return spark.createDataFrame(
        [(len(stale), len(unenv), len(mismatch), len(affected), ok)],
        "n_stale_rows_dropped BIGINT, n_files_reenveloped BIGINT, "
        "n_count_refreshed BIGINT, n_batches_repaired BIGINT, "
        "consistent_after BOOLEAN",
    )


def _audit_ok(
    spark: SparkSession, sink_path: str, manifest_path: str
) -> bool:
    """The manifest-consistency verdict, defined for the emptied
    manifest too: a manifest with no partitions left (whole-table
    erasure) is consistent iff the sink holds no data rows. A
    manifest path that does not exist at all raises — an operator
    typo must never read as consistent."""
    _require_dir(spark, manifest_path, "manifest audit: manifest")
    if not _has_parquet(spark, manifest_path):
        # a parquet-less sink (out-of-band damage — our own lifecycle
        # always leaves zero-row schema files) counts as empty: the
        # verdict must be a boolean, not an AnalysisException
        return not _has_parquet(spark, sink_path) or (
            spark.read.parquet(sink_path).limit(1).count() == 0
        )
    from ..streaming.audit import manifest_consistency_audit

    return bool(
        manifest_consistency_audit(spark, sink_path, manifest_path)
        .collect()[0]["consistent"]
    )


def repair_erasure(
    spark: SparkSession, sink_path: str, manifest_path: str
) -> DataFrame:
    """Recover a sink from a CRASHED ``erase_rows`` call AND finish the
    delete — the repair face of the documented crash windows (module
    docstring), completing the detect→repair pairing the repo uses
    elsewhere. Three phases:

    1. **Roll the current group's swap forward.** ``.erase_commit.json``
       present means the staged survivors are durable (the marker is
       written only after the staging write commits — deliberately not
       the writer's ``_SUCCESS`` file, which clusters can disable):
       finish retiring every planned candidate file still in its
       partition, land every staged survivor file not yet landed, and
       land the zero-row schema-bearing file for a batch the commit
       shows fully emptied. Forward is the only acceptable direction
       once staging is durable — the erasure was promised. A staging
       tree WITHOUT the commit marker is torn (crash inside the
       staging write, sink untouched) and is discarded.
    2. **Reconcile the manifest** via :func:`repair_manifest` (retired
       files' rows dropped, landed files enveloped).
    3. **RESUME the erasure.** The resumability journal
       (``.erase_keys`` + ``.erase_intent.json``, written once before
       any group mutates the sink) outlives every crash window, and a
       multi-schema erasure may have crashed before LATER groups even
       started — rolling forward only the current group would leave
       those groups' subject rows on disk while reporting success, a
       partial compliance delete disguised as a repaired one. Repair
       re-runs ``erase_rows`` from the journaled keys (idempotent:
       already-erased batches rewrite conservatively with zero rows
       erased), so ``consistent_after`` certifies the COMPLETE delete.
       The journal is retired by REPAIR itself after the resume
       returns (r12): the resumed call deletes it only when it found
       candidate groups, so a no-op resume would otherwise leave it
       behind as a permanent vacuum-refusal loop. A journaled
       ``bloom_store_path`` is reconciled via
       :func:`bloom.repair_bloom_store` BEFORE the resume — a crash
       between the sink swap and the store refresh leaves the store
       stale in ways a no-op resume would never touch. A manifest the
       roll-forward fully emptied (whole-table opt-out) means nothing
       is enveloped anywhere: the resume is skipped as
       nothing-left-to-erase and the journal retired, with
       ``consistent_after`` true iff the sink holds no data rows.

    Idempotent: a second call finds no residue and repairs nothing.
    Driver-side work is metadata-sized (journals, listings, renames);
    the resume is a normal erasure, data-proportional only to what is
    still enveloped.

    Returns one row: ``(found_residue, rolled_forward,
    n_files_retired, n_files_landed, n_batches_emptied,
    n_stale_rows_dropped, n_files_reenveloped, erasure_resumed,
    n_rows_erased_on_resume, consistent_after)``."""
    fs, hpath = _fs(spark, sink_path)
    staging = f"{sink_path}/.erase_staging"
    trash = f"{sink_path}/.erase_trash"
    commit_path = f"{sink_path}/.erase_commit.json"
    keys_path = f"{sink_path}/.erase_keys"
    intent_path = f"{sink_path}/.erase_intent.json"
    empty_tmpl = f"{sink_path}/.erase_empty"
    has_commit = fs.exists(hpath(commit_path))
    has_intent = fs.exists(hpath(intent_path))
    found = bool(
        has_commit
        or has_intent
        or fs.exists(hpath(staging))
        or fs.exists(hpath(trash))
        or fs.exists(hpath(keys_path))
        or fs.exists(hpath(empty_tmpl))
    )
    retired = landed = emptied_n = 0
    rolled_forward = False
    if has_commit:
        rolled_forward = True
        plan = json.loads(_read_text(spark, commit_path))
        for b_str, info in sorted(plan["batches"].items(), key=lambda kv: int(kv[0])):
            b = int(b_str)
            part = f"{sink_path}/batch={b}"
            fs.mkdirs(hpath(f"{trash}/batch={b}"))
            for u in info["files"]:
                name = u.rsplit("/", 1)[1]
                if fs.exists(hpath(u)):
                    if not fs.rename(
                        hpath(u), hpath(f"{trash}/batch={b}/{name}")
                    ):
                        raise IOError(
                            f"erase repair failed: could not retire {u}"
                        )
                    retired += 1
            st_dir = hpath(f"{staging}/batch={b}")
            if fs.exists(st_dir):
                for st in fs.listStatus(st_dir):
                    name = st.getPath().getName()
                    if not name.startswith("part-"):
                        continue
                    if not fs.rename(st.getPath(), hpath(f"{part}/{name}")):
                        raise IOError(
                            f"erase repair failed: could not land {name}"
                        )
                    landed += 1
            if info["n_untouched"] == 0:
                fs.mkdirs(hpath(part))
                has_files = any(
                    st.getPath().getName().startswith("part-")
                    for st in fs.listStatus(hpath(part))
                )
                if not has_files:
                    # the fully-emptied branch: schema from a retired
                    # file of this batch (all candidates are in trash
                    # by now)
                    src_file = next(
                        st.getPath().toString()
                        for st in fs.listStatus(hpath(f"{trash}/batch={b}"))
                        if st.getPath().getName().startswith("part-")
                    )
                    fs.delete(hpath(empty_tmpl), True)
                    (
                        spark.read.parquet(src_file)
                        .limit(0)
                        .coalesce(1)
                        .write.parquet(empty_tmpl)
                    )
                    ef = next(
                        st.getPath()
                        for st in fs.listStatus(hpath(empty_tmpl))
                        if st.getPath().getName().startswith("part-")
                    )
                    if not fs.rename(ef, hpath(f"{part}/{ef.getName()}")):
                        raise IOError(
                            "erase repair failed: could not land the "
                            f"zero-row file for batch {b}"
                        )
                    fs.delete(hpath(f"{manifest_path}/batch={b}"), True)
                    emptied_n += 1
    # residue cleanup (either direction; a staging tree without the
    # commit marker is torn — the sink was never touched before the
    # marker, so discarding it is safe)
    fs.delete(hpath(staging), True)
    fs.delete(hpath(trash), True)
    fs.delete(hpath(commit_path), False)
    fs.delete(hpath(empty_tmpl), True)
    mrep = repair_manifest(spark, sink_path, manifest_path).collect()[0]
    consistent = bool(mrep["consistent_after"])
    resumed = False
    resumed_erased = 0
    if has_intent and fs.exists(hpath(keys_path)):
        # phase 3: finish the whole delete from the resumability
        # journal — groups the crashed call never reached are still
        # pending.
        intent = json.loads(_read_text(spark, intent_path))
        store_path = intent.get("bloom_store_path")
        if store_path is not None and not _has_parquet(spark, store_path):
            # the journaled store vanished (deleted after the crash, or
            # a whole-table erasure dropped its every partition): there
            # is nothing left to maintain, and resuming WITH the path
            # would abort on the store read — with the journal still on
            # disk, the exact refusal loop the r12 retirement fix
            # exists to prevent
            store_path = None
        if store_path is not None:
            # reconcile the journaled store BEFORE resuming: the crash
            # may have hit between the sink swap and the store refresh
            # (stale n_keys / orphan batch partitions), and the resume
            # recomputes its candidates from the POST-erasure manifest —
            # an empty candidate set would skip the refresh and leave
            # the store stale while repair reports consistent. Repair
            # also drops store rows for columns the sink no longer
            # holds, which the resumed erase_rows' entry validation
            # would otherwise refuse.
            from .bloom import bloom_store_audit, repair_bloom_store

            if not all(
                r["current"]
                for r in bloom_store_audit(
                    spark, sink_path, store_path
                ).collect()
            ):
                repair_bloom_store(spark, sink_path, store_path)
        if _has_parquet(spark, manifest_path):
            journaled = spark.read.parquet(keys_path).localCheckpoint(
                eager=True  # sever lineage: the resume overwrites the path
            )
            rrep = erase_rows(
                spark,
                sink_path,
                manifest_path,
                intent["key_cols"],
                journaled,
                bloom_store_path=store_path,
            ).collect()
            resumed_erased = sum(int(r["rows_erased"]) for r in rrep)
            # retire the journal HERE: the resumed call deletes it only
            # when it found candidate groups, so a no-op resume (keys
            # outside every surviving envelope) would otherwise leave
            # it forever — every later vacuum_maintenance refusing and
            # every repair re-running a no-op, a permanent refusal loop
            # escapable only by force. The resume RAN to completion, so
            # the delete is finished regardless of candidate count.
            fs.delete(hpath(intent_path), False)
            fs.delete(hpath(keys_path), True)
            consistent = _audit_ok(spark, sink_path, manifest_path)
        else:
            # the crashed erasure emptied EVERY batch (whole-table
            # opt-out) and roll-forward dropped every manifest
            # partition — nothing is enveloped anywhere, so nothing is
            # left to erase; resuming would abort on the schema-less
            # manifest read. Retire the journal ONLY once the audit
            # confirms the sink holds no rows: a manifest lost
            # OUT-OF-BAND while the sink still holds subject rows makes
            # the journal the last record of what to erase — destroying
            # it would leave consistent_after=false as the sole signal
            # (ADVICE r12). Kept journal = found_residue on the next
            # repair, so the inconsistency stays loud.
            consistent = _audit_ok(spark, sink_path, manifest_path)
            if consistent:
                fs.delete(hpath(intent_path), False)
                fs.delete(hpath(keys_path), True)
        resumed = True
    else:
        # crash before the journal finished writing: nothing ran, the
        # leftovers are inert
        fs.delete(hpath(intent_path), False)
        fs.delete(hpath(keys_path), True)
    return spark.createDataFrame(
        [
            (
                found,
                rolled_forward,
                retired,
                landed,
                emptied_n,
                int(mrep["n_stale_rows_dropped"]),
                int(mrep["n_files_reenveloped"]),
                resumed,
                resumed_erased,
                consistent,
            )
        ],
        "found_residue BOOLEAN, rolled_forward BOOLEAN, "
        "n_files_retired BIGINT, n_files_landed BIGINT, "
        "n_batches_emptied BIGINT, n_stale_rows_dropped BIGINT, "
        "n_files_reenveloped BIGINT, erasure_resumed BOOLEAN, "
        "n_rows_erased_on_resume BIGINT, consistent_after BOOLEAN",
    )


def vacuum_maintenance(
    spark: SparkSession, sink_path: str, force: bool = False
) -> DataFrame:
    """Delete maintenance residue left under a sink by CRASHED
    erasures/compactions — the disk-leak and compliance closure for
    the hidden trees (a successful ``erase_rows`` / ``compact_batch``
    already deletes its own staging and trash before returning; what
    accumulates is crash residue, and its trash generations hold
    pre-erasure bytes that compliance wants gone).

    Refuses (raises) instead of deleting when the residue is still
    LOAD-BEARING, so a vacuum can never destroy the only copy:

    * an erasure plan with a completed staging write is
      roll-forwardable — run :func:`repair_erasure` first (vacuuming
      would discard the staged survivor rows: data loss);
    * a ``.compact_trash_batch=N`` whose live ``batch=N`` partition is
      missing holds the partition's only copy — run
      :func:`formats.repair_compaction` first.

    ``force=True`` overrides both guards (documented data loss — an
    operator decision, never a default). Returns one row:
    ``(n_paths_removed, n_files_removed)``."""
    fs, hpath = _fs(spark, sink_path)
    staging = f"{sink_path}/.erase_staging"
    commit_path = f"{sink_path}/.erase_commit.json"
    intent_path = f"{sink_path}/.erase_intent.json"
    keys_path = f"{sink_path}/.erase_keys"
    if not force and (
        fs.exists(hpath(commit_path)) or fs.exists(hpath(intent_path))
    ):
        raise ValueError(
            "vacuum_maintenance: a crashed erasure left its journal "
            "behind (a committed staging tree to roll forward and/or a "
            "resumable key list) — run repair_erasure first (vacuuming "
            "now would discard staged survivor rows and abandon the "
            "unfinished compliance delete), or pass force=True to "
            "accept the loss"
        )
    residue = [staging, f"{sink_path}/.erase_trash", commit_path,
               intent_path, keys_path, f"{sink_path}/.erase_empty"]
    for st in fs.listStatus(hpath(sink_path)):
        name = st.getPath().getName()
        if name.startswith(".compact_staging_batch=") or name.startswith(
            ".compact_commit_batch="
        ):
            residue.append(st.getPath().toString())
        elif name.startswith(".compact_trash_batch="):
            b = name.split("=", 1)[1]
            if not force and not fs.exists(
                hpath(f"{sink_path}/batch={b}")
            ):
                raise ValueError(
                    f"vacuum_maintenance: {name} holds the only copy "
                    f"of batch {b} (its live partition is missing — a "
                    "compaction crashed mid-swap); run "
                    "repair_compaction first, or pass force=True to "
                    "accept the loss"
                )
            residue.append(st.getPath().toString())
    n_paths = n_files = 0
    for p in residue:
        if not fs.exists(hpath(p)):
            continue
        if fs.getFileStatus(hpath(p)).isDirectory():
            it = fs.listFiles(hpath(p), True)
            while it.hasNext():
                it.next()
                n_files += 1
        else:
            n_files += 1
        fs.delete(hpath(p), True)
        n_paths += 1
    return spark.createDataFrame(
        [(n_paths, n_files)],
        "n_paths_removed BIGINT, n_files_removed BIGINT",
    )
