"""Per-batch Bloom summaries over the manifest sink: point-lookup
pruning that still works on RANDOM layouts.

The zone-map manifest (``sources/manifest.py``) prunes range reads and
targeted erasure via per-batch [min, max] envelopes — which is exactly
right on range-clustered layouts and provably useless on random ones:
every batch's envelope spans the key space, so a point lookup (or an
opt-out-list erasure) degrades to scanning/rewriting everything. A
Bloom summary has the opposite trade: it knows nothing about ranges
but answers "can this batch contain key x?" probabilistically with NO
false negatives, independent of layout. Lakehouse formats ship the
same tier (Parquet bloom filters, Delta's BLOOMFILTER index); for the
plain-parquet manifest sink this module materializes it as one row per
(batch, key column) — ``bloom_pos`` is the sorted set of set bit
positions, bounded by ``n_bits``.

Positions use the Kirsch-Mitzenmacher construction (two xxhash64
seeds, position_i = (h1 + i*h2) mod n_bits — the same double-hashing
the MinHash family uses in ``operators/dedup.py``). xxhash64 is
Spark-only, which is fine HERE: bloom positions are engine-internal
pruning state, never oracle-compared (the portable-hashing boundary
rule) — gate queries compare the exact row counts and guarantee
booleans the pruning produces, not the positions.

Summary rows are SELF-DESCRIBING (r11): each carries the geometry and
provenance it was collected under — ``key_type`` (xxhash64 is
type-sensitive, so a probe of a different type silently
false-negatives: the worst failure mode for a compliance delete),
``n_bits``/``n_hashes`` (a probe hashed under a different geometry
also silently false-negatives), and ``n_keys`` (the batch's non-NULL
key count at collection time — what lets ``bloom_store_audit`` detect
a summary that no longer describes its batch). ``bloom_candidates``
refuses a probe that contradicts the recorded metadata instead of
relying on caller discipline.

Scale shape: collection is ONE narrow scan of the key column(s) —
multi-column collection explodes a per-row struct array so k columns
cost one scan, not k (measured in SCALE_AUDIT.md) — with
``collect_set`` partial-aggregating map-side; the result is
#batches × #columns rows, each at most ``n_bits`` ints. Candidate
selection is an inverted-index equi-join on position — the exploded
batch summaries against the BROADCAST exploded key positions
(opt-out / lookup lists are key-sized) — then an all-k-positions
count per (batch, key): linear in total summary size, never
#batches × #keys pairwise array scans.

Sizing: false-positive rate per key per batch is roughly
``(n_distinct*k/n_bits)^k``; keep ``n_bits`` an order of magnitude
above ``n_distinct*k`` per batch. When the caller passes no
``n_bits``, ``collect_batch_blooms`` derives one per column from a
measured approximate NDV (next power of two ≥ 16·ndv·k, floor 2^12 —
fp ≈ (1/16)^k ≈ 2.4e-4 at k=3), so skipping the sizing paragraph no
longer buys an honest-but-useless saturated store. A saturated bloom
(n_bits too small) never lies about presence — it just prunes
nothing, the same honest degradation the envelope tier has on random
layouts; ``bloom_store_audit`` reports fill so saturation is visible.

NULL keys are not representable (a point lookup for NULL identifies
nothing — the same policy as ``retention.erase_rows``): collection
skips NULL values and candidate keys drop NULLs; callers wanting
NULL-keyed rows should filter by predicate. A batch whose key column
is entirely NULL lands no summary row (nothing to look up), and the
audit expects exactly that.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "bloom_positions",
    "collect_batch_blooms",
    "bloom_summary_rows",
    "bloom_candidates",
    "read_bloom_pruned",
    "load_bloom_store",
    "bloom_store_audit",
    "repair_bloom_store",
]

#: metadata columns every summary row carries (see module docstring)
_META_COLS = ("key_col", "key_type", "n_bits", "n_hashes", "n_keys")


def bloom_positions(
    col: Column | str, n_bits: int = 1 << 18, n_hashes: int = 3
) -> Column:
    """Array of the ``n_hashes`` (deduplicated) bit positions for a key
    — Kirsch-Mitzenmacher double hashing, overflow-safe under ANSI mode
    (both hashes are reduced mod ``n_bits`` before the small multiply-
    add, so no long multiply can overflow)."""
    c = F.col(col) if isinstance(col, str) else col
    h1 = F.pmod(F.xxhash64(c, F.lit(1)), F.lit(n_bits))
    h2 = F.pmod(F.xxhash64(c, F.lit(2)), F.lit(n_bits))
    return F.array_distinct(
        F.array(
            *(F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)) for i in range(n_hashes))
        )
    )


def _col_map(cols: list[str], values: dict[str, object]) -> Column:
    """A literal ``key_col -> value`` map expression."""
    return F.create_map(
        *(x for c in cols for x in (F.lit(c), F.lit(values[c])))
    )


def bloom_summary_rows(
    df: DataFrame,
    cols: list[str],
    n_bits: dict[str, int] | int,
    n_hashes: int = 3,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Self-describing summary rows for every column in ``cols`` from
    ONE scan of ``df`` — the shared core of batch-side
    ``collect_batch_blooms`` and the streaming writer's land-time
    maintenance (``streaming.incremental.start_append_with_manifest``).

    Output: one row per (``group_cols``…, key column) with
    ``key_col, key_type, n_bits, n_hashes, n_keys, bloom_pos``.
    ``n_bits`` may be per-column (dict) or shared (int). Columns with
    zero non-NULL keys in a group produce no row (module docstring).

    The one-scan shape is a per-row struct array — (key_col, that
    column's positions) per bloomed column — exploded once, so land
    time for a composite-key sink does NOT multiply with the number of
    bloomed columns."""
    bits = n_bits if isinstance(n_bits, dict) else {c: n_bits for c in cols}
    g = list(group_cols or [])
    types = {c: df.schema[c].dataType.simpleString() for c in cols}
    pairs = F.array(
        *(
            F.struct(
                F.lit(c).alias("key_col"),
                F.when(
                    F.col(c).isNotNull(),
                    bloom_positions(c, bits[c], n_hashes),
                ).alias("k_pos"),
            )
            for c in cols
        )
    )
    pos = (
        df.select(*g, F.explode(pairs).alias("p"))
        .filter(F.col("p.k_pos").isNotNull())
        .select(*g, "p.key_col", F.posexplode("p.k_pos").alias("i", "pos"))
    )
    rows = pos.groupBy(*g, "key_col").agg(
        # each non-NULL key contributes exactly one i==0 row
        F.sum((F.col("i") == 0).cast("long")).alias("n_keys"),
        F.sort_array(F.collect_set("pos")).alias("bloom_pos"),
    )
    return rows.select(
        *g,
        "key_col",
        F.element_at(_col_map(cols, types), F.col("key_col")).alias(
            "key_type"
        ),
        F.element_at(_col_map(cols, bits), F.col("key_col"))
        .cast("long")
        .alias("n_bits"),
        F.lit(n_hashes).cast("long").alias("n_hashes"),
        "n_keys",
        "bloom_pos",
    )


def _derived_n_bits(
    spark: SparkSession, src: DataFrame, cols: list[str], n_hashes: int
) -> dict[str, int]:
    """Per-column ``n_bits`` from a measured approximate NDV: next
    power of two ≥ 16·ndv·k per batch (max over batches), floor 2^12.
    One narrow scan (approx_count_distinct per batch per column)."""
    ndv = (
        src.groupBy("batch")
        .agg(
            *(
                F.approx_count_distinct(c).alias(c)
                for c in cols
            )
        )
        .agg(*(F.max(c).alias(c) for c in cols))
        .collect()[0]
    )
    out = {}
    for c in cols:
        target = 16 * max(int(ndv[c] or 0), 1) * n_hashes
        bits = 1 << 12
        while bits < target:
            bits <<= 1
        out[c] = bits
    return out


def collect_batch_blooms(
    spark: SparkSession,
    sink_path: str,
    col: str | list[str],
    n_bits: int | None = None,
    n_hashes: int = 3,
) -> DataFrame:
    """One row per ``batch=<id>`` partition per key column:
    ``(batch, key_col, key_type, n_bits, n_hashes, n_keys, bloom_pos)``
    — the sorted distinct bit positions of every non-NULL key in the
    batch, with the self-describing metadata ``bloom_candidates``
    validates probes against. One narrow scan of the key column(s)
    regardless of how many are bloomed.

    ``n_bits=None`` derives a per-column size from a measured
    approximate NDV (one extra narrow scan; formula in the module
    docstring) — the safe default for callers who skip the sizing
    paragraph. Pass an explicit power of two to pin geometry across
    rebuilds.

    Refreshing a CACHED summary frame after an append: unpersist the
    old frame BEFORE caching the new one. The re-read of the same path
    has ``sameResult`` with the cached one, so ``.cache()`` on the new
    frame is a no-op and the CacheManager serves it from the old entry
    — summaries of the pre-append batches only; unpersisting the old
    frame afterwards drops that shared entry, leaving the new frame
    uncached."""
    cols = [col] if isinstance(col, str) else list(col)
    src = spark.read.option("basePath", sink_path).parquet(sink_path)
    bits: dict[str, int] | int
    if n_bits is None:
        bits = _derived_n_bits(spark, src, cols, n_hashes)
    else:
        bits = n_bits
    rows = bloom_summary_rows(
        src.select("batch", *cols),
        cols,
        bits,
        n_hashes,
        group_cols=["batch"],
    )
    return rows.select(
        F.col("batch").cast("long").alias("batch"),
        *(c for c in rows.columns if c != "batch"),
    )


def _resolve_meta(
    blooms: DataFrame,
    col: str,
    keys: DataFrame | None,
    n_bits: int | None,
    n_hashes: int | None,
) -> tuple[DataFrame, int, int]:
    """Filter a (possibly multi-column) summary frame down to ``col``
    and resolve the probe geometry: recorded metadata wins and a
    contradicting explicit parameter (or probe key type) RAISES —
    a mismatched probe silently false-negatives, the worst failure
    mode for a compliance delete. Raw frames without metadata fall
    back to the explicit parameters (or the historical defaults).

    ONE aggregation job resolves emptiness AND geometry (it was two
    ``limit(1).count()`` probes plus a ``distinct().collect()`` — three
    driver-sequenced jobs per probe call, and the incident chains pay
    this per erasure/audit step; the summary frame is metadata-sized,
    so job COUNT is the cost, not bytes). The distinct-``key_col``
    sweep is paid only on the refusal path."""
    has_keycol = "key_col" in blooms.columns
    has_meta = "n_bits" in blooms.columns
    sliced = blooms.filter(F.col("key_col") == col) if has_keycol else blooms
    if not has_keycol and not has_meta:
        return sliced, n_bits or 1 << 18, n_hashes or 3
    is_col = F.col("key_col") == col if has_keycol else F.lit(True)
    aggs = [
        F.count(F.lit(1)).alias("n_total"),
        F.sum(is_col.cast("long")).alias("n_col"),
    ]
    if has_meta:
        aggs.append(
            F.collect_set(
                F.when(is_col, F.struct("key_type", "n_bits", "n_hashes"))
            ).alias("meta")
        )
    probe = blooms.agg(*aggs).collect()[0]
    if has_keycol and not probe["n_col"] and probe["n_total"]:
        # a nonempty multi-column summary frame that never collected
        # THIS column: zero candidate batches would read as "key
        # nowhere" — for the erasure consumer that is the silent-no-op
        # failure mode load_bloom_store's raise exists to prevent,
        # reachable here by handing erase_rows the wrong column's frame
        have = sorted(
            r["key_col"]
            for r in blooms.select("key_col").distinct().collect()
        )
        raise ValueError(
            f"bloom summaries carry no rows for column {col!r} "
            f"(collected: {have}) — probing them would silently "
            "prune every batch"
        )
    blooms = sliced
    if not has_meta:
        return blooms, n_bits or 1 << 18, n_hashes or 3
    meta = probe["meta"]
    if len(meta) > 1:
        raise ValueError(
            f"bloom summaries for {col!r} carry inconsistent geometry "
            f"{sorted((r['n_bits'], r['n_hashes']) for r in meta)} — a "
            "single probe cannot match more than one; rebuild the store "
            "at one geometry"
        )
    if not meta:  # empty store slice: geometry moot, result empty
        return blooms, n_bits or 1 << 18, n_hashes or 3
    rec = meta[0]
    if n_bits is not None and n_bits != int(rec["n_bits"]):
        raise ValueError(
            f"bloom probe n_bits={n_bits} contradicts the store's "
            f"recorded n_bits={int(rec['n_bits'])} for {col!r} — a "
            "mismatched geometry silently false-negatives; omit n_bits "
            "to use the recorded one"
        )
    if n_hashes is not None and n_hashes != int(rec["n_hashes"]):
        raise ValueError(
            f"bloom probe n_hashes={n_hashes} contradicts the store's "
            f"recorded n_hashes={int(rec['n_hashes'])} for {col!r}"
        )
    if keys is not None:
        probe_type = keys.schema[col].dataType.simpleString()
        if rec["key_type"] is not None and probe_type != rec["key_type"]:
            raise TypeError(
                f"bloom probe for {col!r} carries type {probe_type} but "
                f"the summaries were collected from {rec['key_type']} — "
                "xxhash64 is type-sensitive, a widened probe silently "
                "false-negatives; cast the probe to the collected type"
            )
    return blooms, int(rec["n_bits"]), int(rec["n_hashes"])


def bloom_candidates(
    blooms: DataFrame,
    keys: DataFrame,
    col: str,
    n_bits: int | None = None,
    n_hashes: int | None = None,
) -> DataFrame:
    """(batch, key) pairs whose batch bloom MAY contain the key — a
    superset of the true containments (no false negatives, guaranteed
    by construction: a present key's every position is set).

    Geometry and key type come from the summary frame's recorded
    metadata when present (the ``collect_batch_blooms`` /
    ``bloom_summary_rows`` shape): an explicit ``n_bits``/``n_hashes``
    that contradicts the record, or a probe column whose type differs
    from the collected one, RAISES instead of silently
    false-negativing (xxhash64 is type- and geometry-sensitive). Raw
    ``(batch, bloom_pos)`` frames fall back to the explicit
    parameters.

    Inverted-index shape: explode the batch summaries to (batch, pos)
    rows, equi-join the broadcast exploded key positions, keep pairs
    where ALL of the key's (deduplicated) positions matched. Output
    column ``col`` carries the key value."""
    blooms, n_bits, n_hashes = _resolve_meta(
        blooms, col, keys, n_bits, n_hashes
    )
    kp = (
        keys.select(col)
        .filter(F.col(col).isNotNull())
        .distinct()
        .select(
            F.col(col),
            bloom_positions(col, n_bits, n_hashes).alias("k_pos"),
        )
        .select(
            F.col(col),
            F.size("k_pos").alias("n_pos"),
            F.explode("k_pos").alias("pos"),
        )
    )
    bp = blooms.select("batch", F.explode("bloom_pos").alias("pos"))
    return (
        bp.join(F.broadcast(kp), "pos")
        # count DISTINCT matched positions, not matched rows: a
        # duplicated summary row (e.g. a replayed streaming append)
        # would otherwise double every n_hit past n_pos and silently
        # DROP the batch's true containments — a false negative, the
        # one failure mode a bloom must never have (r12)
        .groupBy("batch", col, "n_pos")
        .agg(F.count_distinct("pos").alias("n_hit"))
        .filter(F.col("n_hit") == F.col("n_pos"))
        .select("batch", col)
    )


def load_bloom_store(
    spark: SparkSession, bloom_path: str, col: str
) -> DataFrame:
    """Read one column's per-batch summaries back from a streaming-
    maintained bloom store
    (:func:`streaming.incremental.start_append_with_manifest` with
    ``bloom_cols=``): the self-describing rows ``bloom_candidates`` /
    ``read_bloom_pruned`` / ``erase_rows`` consume (metadata columns
    pass through so probes validate against the recorded geometry and
    key type). Raises if the store never bloomed ``col`` — a typo'd
    column would otherwise prune everything (zero candidate batches
    reads as "key nowhere" — for the erasure consumer that is the
    silent-no-op failure mode the NULL policy exists to prevent)."""
    store = spark.read.parquet(bloom_path).filter(F.col("key_col") == col)
    passthrough = [c for c in _META_COLS if c in store.columns]
    out = store.select(
        F.col("batch").cast("long").alias("batch"),
        *passthrough,
        "bloom_pos",
    )
    if not out.limit(1).count():
        raise ValueError(
            f"load_bloom_store: no summaries for column {col!r} in "
            f"{bloom_path} — was it in bloom_cols when the sink landed?"
        )
    return out


def read_bloom_pruned(
    spark: SparkSession,
    sink_path: str,
    blooms: DataFrame,
    col: str,
    values,
    n_bits: int | None = None,
    n_hashes: int | None = None,
) -> DataFrame:
    """Read only the batch partitions whose bloom may contain any of
    ``values`` (a Python sequence), with the exact ``isin`` residual
    filter still applied — the point-lookup twin of
    ``manifest.read_pruned``, for the random layouts where range
    envelopes admit everything. An empty candidate set (or an empty
    ``values``) returns an empty frame with the sink's schema (footer
    read only). The bloom must be CURRENT: built (or rebuilt) after
    the last append — blooms stay safe across row DELETIONS
    (over-approximation survives), but an append after collection can
    silently hide new rows; ``bloom_store_audit`` detects exactly
    that."""
    vals = list(values)
    if not vals:
        # the documented empty-frame return must not depend on inferring
        # a schema from an empty probe list (createDataFrame would raise)
        return spark.read.parquet(sink_path).filter(F.lit(False))
    # xxhash64 is TYPE-sensitive (int32 and int64 hash differently), so
    # the probe keys must carry exactly the sink column's type or the
    # positions won't match the collected ones — cast via the footer
    key_type = spark.read.parquet(sink_path).schema[col].dataType
    keys = (
        spark.createDataFrame([(v,) for v in vals])
        .toDF(col)
        .select(F.col(col).cast(key_type))
    )
    batches = [
        int(r["batch"])
        for r in bloom_candidates(blooms, keys, col, n_bits, n_hashes)
        .select("batch")
        .distinct()
        .collect()
    ]
    if not batches:
        return spark.read.parquet(sink_path).filter(F.lit(False))
    src = spark.read.option("basePath", sink_path).parquet(
        *(f"{sink_path}/batch={b}" for b in sorted(batches))
    )
    return src.filter(F.col(col).isin(vals))


def _require_meta_schema(store: DataFrame, bloom_path: str) -> None:
    """Schema-only half of :func:`_require_meta` (no job): raise on a
    store frame that is not self-describing (r11 rows)."""
    missing_meta = [c for c in _META_COLS if c not in store.columns]
    if missing_meta:
        raise ValueError(
            f"bloom store at {bloom_path} lacks metadata "
            f"column(s) {missing_meta} — rebuild it with r11 "
            "collect_batch_blooms / start_append_with_manifest to make "
            "it auditable"
        )


def _require_meta(store: DataFrame, bloom_path: str) -> list[str]:
    """Validate a store frame is self-describing (r11 rows) and return
    its bloomed columns, sorted. Shared by the audit and the repair so
    they refuse the same un-auditable stores."""
    _require_meta_schema(store, bloom_path)
    cols = sorted(
        r["key_col"] for r in store.select("key_col").distinct().collect()
    )
    if not cols:
        raise ValueError(f"bloom store at {bloom_path} is empty")
    return cols


def _sink_key_counts(sink: DataFrame, cols: list[str]) -> DataFrame:
    """Per (batch, key column) non-NULL key counts from ONE narrow scan
    of exactly the bloomed columns — the struct-array explode the
    collection uses; a column absent from the sink schema counts zero.
    Shared by the audit (detection) and the repair (classification) so
    the two cannot disagree about what is on disk."""
    pairs = F.array(
        *(
            F.struct(
                F.lit(c).alias("key_col"),
                (
                    F.col(c).isNotNull()
                    if c in sink.columns
                    else F.lit(False)
                ).alias("nn"),
            )
            for c in cols
        )
    )
    return (
        sink.select(
            F.col("batch").cast("long").alias("batch"), pairs.alias("ps")
        )
        .select("batch", F.explode("ps").alias("p"))
        .groupBy("batch", F.col("p.key_col").alias("key_col"))
        .agg(F.sum(F.col("p.nn").cast("long")).alias("n_nonnull"))
        .filter(F.col("n_nonnull") > 0)
    )


def _store_rows(store: DataFrame) -> DataFrame:
    """The store normalized for the (key_col, batch) join: recorded
    metadata plus ``fill_ppm`` and the structural ``pos_ok`` check (an
    out-of-range position can never match a probe, so a corrupted row
    is a silent false-negative vector)."""
    return store.select(
        F.col("key_col"),
        F.col("batch").cast("long").alias("batch"),
        F.col("n_keys"),
        F.col("n_bits"),
        F.col("n_hashes"),
        F.col("key_type"),
        (
            F.size("bloom_pos").cast("long")
            * F.lit(1_000_000)
            / F.col("n_bits")
        )
        .cast("long")
        .alias("fill_ppm"),
        F.coalesce(
            # NULL geometry (or a NULL positions array) is structural
            # damage, not a pass: a NULL comparison would otherwise
            # vanish inside the audit's NULL-ignoring MIN and the row
            # would read as current while being unprobeable (ADVICE r12)
            F.col("n_bits").isNotNull()
            & F.col("n_hashes").isNotNull()
            & (
                (F.size("bloom_pos") == 0)
                | (
                    (F.coalesce(F.array_min("bloom_pos"), F.lit(-1)) >= 0)
                    & (
                        F.coalesce(F.array_max("bloom_pos"), F.lit(-1))
                        < F.col("n_bits")
                    )
                )
            ),
            F.lit(False),
        ).alias("pos_ok"),
    )


def bloom_store_audit(
    spark: SparkSession, sink_path: str, bloom_path: str
) -> DataFrame:
    """Filesystem audit of a per-batch Bloom store against the sink it
    summarizes — the bloom tier's twin of
    ``streaming.audit.manifest_consistency_audit``, closing the
    documented currency contract (a bloom built before an append can
    silently hide rows — for point reads a wrong empty result, for
    bloom-confined erasure a silently-skipped batch: the worst failure
    mode a compliance delete has) with DETECTION instead of caller
    discipline.

    Joins what is ON DISK (per batch, per bloomed column: the non-NULL
    key count, from one narrow scan of exactly the bloomed columns)
    against what the STORE claims (its recorded ``n_keys`` per row),
    full-outer per (key column, batch). Output: one row per bloomed
    column —

    * ``n_sink_batches`` — batches holding ≥1 non-NULL key,
    * ``n_store_batches`` — summary rows in the store,
    * ``n_missing_batches`` — batches with keys but NO summary row
      (an append the store never saw: the stale-store damage class),
    * ``n_orphan_batches`` — summary rows describing a batch with no
      keys on disk (a dropped/emptied batch whose summary survived),
    * ``n_count_mismatches`` — both present but the key count changed
      (a replay/overwrite after collection),
    * ``n_duplicate_rows`` — extra summary rows beyond one per
      (column, batch): a replayed append. Even an IDENTICAL duplicate
      is damage — it doubles the exploded positions, which (before the
      r12 ``count_distinct`` hardening in ``bloom_candidates``)
      silently false-negatived every probe of that batch,
    * ``type_ok`` — every row's recorded ``key_type`` matches the
      sink footer's current type for that column,
    * ``geometry_ok`` — the store holds exactly one
      (``n_bits``, ``n_hashes``) per column,
    * ``positions_ok`` — every recorded position lies in
      [0, ``n_bits``): an out-of-range position can never match a
      probe, so a corrupted row is a silent false-negative vector,
    * ``max_fill_ppm`` — the fullest summary's set-bit fraction (ppm);
      ``saturated`` flags fill > 1/8 (point fp rate ≈ fill³ > 0.2%:
      still no false negatives, just fading pruning — reported, not
      failed),
    * ``current`` — all violation counts zero AND types and geometry
      consistent. Point reads and bloom-confined erasure can trust the
      store iff ``current``.

    Requires a self-describing store (r11 rows); raises on a store
    without metadata columns, which cannot be audited for type or
    currency."""
    store = spark.read.parquet(bloom_path)
    cols = _require_meta(store, bloom_path)
    sink = spark.read.option("basePath", sink_path).parquet(sink_path)
    sink_types = {
        c: sink.schema[c].dataType.simpleString()
        for c in cols
        if c in sink.columns
    }
    exp = _sink_key_counts(sink, cols)
    st = _store_rows(store)
    j = exp.join(st, ["key_col", "batch"], "full_outer")
    type_map = _col_map(
        cols, {c: sink_types.get(c) for c in cols}
    )
    rep = j.groupBy("key_col").agg(
        F.sum(F.col("n_nonnull").isNotNull().cast("long")).alias(
            "n_sink_batches"
        ),
        F.sum(F.col("n_keys").isNotNull().cast("long")).alias(
            "n_store_batches"
        ),
        F.sum(
            (F.col("n_nonnull").isNotNull() & F.col("n_keys").isNull()).cast(
                "long"
            )
        ).alias("n_missing_batches"),
        F.sum(
            (F.col("n_nonnull").isNull() & F.col("n_keys").isNotNull()).cast(
                "long"
            )
        ).alias("n_orphan_batches"),
        F.sum(
            (
                F.col("n_nonnull").isNotNull()
                & F.col("n_keys").isNotNull()
                & (F.col("n_nonnull") != F.col("n_keys"))
            ).cast("long")
        ).alias("n_count_mismatches"),
        # more than one summary row for a (column, batch) — a replayed
        # append: even an IDENTICAL duplicate is damage, because it
        # doubles the exploded positions and (pre-r12
        # count_distinct hardening) silently false-negatived every
        # candidate probe of that batch
        (
            F.sum(F.col("n_keys").isNotNull().cast("long"))
            - F.count_distinct(
                F.when(F.col("n_keys").isNotNull(), F.col("batch"))
            )
        ).cast("long").alias("n_duplicate_rows"),
        F.coalesce(
            F.min(
                (
                    F.col("key_type")
                    == F.element_at(type_map, F.col("key_col"))
                ).cast("boolean")
            ),
            F.lit(False),
        ).alias("type_ok"),
        (
            F.count_distinct(F.col("n_bits"), F.col("n_hashes")) <= 1
        ).alias("geometry_ok"),
        F.coalesce(F.min(F.col("pos_ok").cast("boolean")), F.lit(True)).alias(
            "positions_ok"
        ),
        F.coalesce(F.max("fill_ppm"), F.lit(0)).cast("long").alias(
            "max_fill_ppm"
        ),
    )
    return rep.select(
        "key_col",
        "n_sink_batches",
        "n_store_batches",
        "n_missing_batches",
        "n_orphan_batches",
        "n_count_mismatches",
        "n_duplicate_rows",
        "type_ok",
        "geometry_ok",
        "positions_ok",
        "max_fill_ppm",
        (F.col("max_fill_ppm") > 125_000).alias("saturated"),
        (
            (F.col("n_missing_batches") == 0)
            & (F.col("n_orphan_batches") == 0)
            & (F.col("n_count_mismatches") == 0)
            & (F.col("n_duplicate_rows") == 0)
            & F.col("type_ok")
            & F.col("geometry_ok")
            & F.col("positions_ok")
        ).alias("current"),
    ).orderBy("key_col")


def repair_bloom_store(
    spark: SparkSession, sink_path: str, bloom_path: str
) -> DataFrame:
    """Detect-and-REPAIR for the per-batch Bloom store — the pairing
    :func:`bloom_store_audit` was missing (the audit detects five
    damage classes; this fixes them, completing the detect→repair
    convention the manifest, erasure and compaction tiers already
    follow). TARGETED: only the damaged (column, batch) summaries are
    re-collected, under the store's own recorded geometry — never a
    full rebuild. Damage classes map to actions:

    * **missing** (batch holds keys, no summary row — an append the
      store never saw) → collected;
    * **count mismatch** (recorded ``n_keys`` no longer matches the
      batch — a replay/overwrite after collection) → re-collected;
    * **structural** (out-of-range positions, a row whose geometry
      contradicts the column's resolved one, a recorded ``key_type``
      differing from the sink footer's current type, or DUPLICATE
      rows for one (column, batch) — each a silent false-negative
      vector) → re-collected under the resolved geometry and the
      sink's current type, one row replacing however many were there;
    * **orphan** (summary row for a batch with no keys on disk — a
      dropped/emptied batch whose summary survived) → dropped.

    A column's geometry is resolved as the modal recorded
    (``n_bits``, ``n_hashes``) weighted by row count (ties → larger
    ``n_bits``, the safer filter), so one corrupted row cannot drag a
    healthy column to its geometry. A column that vanished from the
    sink schema entirely has every row classified orphan and is
    dropped — the store must describe the sink, not remember it.

    Scale shape: classification is the audit's one narrow key-column
    scan full-outer-joined to the store (engine-side); ONLY the
    damaged pairs are collected (bounded by damage count, never
    #batches×#cols). Re-collection is one ``mergeSchema`` scan of
    exactly the damaged batches per distinct resolved ``n_hashes``
    (almost always 1). The partition rebuild severs lineage with a
    ``localCheckpoint`` so the overwrite never reads the path it
    writes, and keeps untouched (column, batch) rows of the affected
    partitions verbatim; a partition left with zero rows is dropped
    (the emptied-batch convention).

    Returns one row per bloomed column:
    ``(key_col, n_missing_collected, n_mismatch_recollected,
    n_structural_recollected, n_orphan_rows_dropped, current_after)``
    where ``current_after`` re-runs the audit post-repair (vacuously
    true when the repair emptied the store — a sink with no keys
    needs no summaries)."""
    from .retention import _fs

    store = spark.read.parquet(bloom_path)
    _require_meta_schema(store, bloom_path)
    # resolve per-column geometry: modal recorded (n_bits, n_hashes)
    # by row count, ties to the larger n_bits (metadata-sized collect:
    # #cols × #distinct geometries rows). ONE job yields the bloomed
    # column list too — this used to be _require_meta's separate
    # distinct().collect() plus this groupBy (two driver round trips)
    geo = (
        store.groupBy("key_col", "n_bits", "n_hashes")
        .count()
        .collect()
    )
    cols = sorted({r["key_col"] for r in geo})
    if not cols:
        raise ValueError(f"bloom store at {bloom_path} is empty")
    sink = spark.read.option("basePath", sink_path).parquet(sink_path)
    sink_types = {
        c: sink.schema[c].dataType.simpleString()
        for c in cols
        if c in sink.columns
    }
    resolved: dict[str, tuple[int, int]] = {}
    for c in cols:
        # a row with NULL n_bits/n_hashes cannot vote — it is itself
        # structural damage (classified below via the hardened pos_ok),
        # and int(None) would abort the whole repair on damage the
        # paired audit reports calmly (ADVICE r12). A column with NO
        # validly-recorded geometry at all falls back to the module
        # default, the same (1 << 18, 3) bloom_positions uses.
        cand = sorted(
            (int(r["count"]), int(r["n_bits"]), int(r["n_hashes"]))
            for r in geo
            if r["key_col"] == c
            and r["n_bits"] is not None
            and r["n_hashes"] is not None
        )
        resolved[c] = (cand[-1][1], cand[-1][2]) if cand else (1 << 18, 3)
    res_bits = _col_map(cols, {c: resolved[c][0] for c in cols})
    res_hashes = _col_map(cols, {c: resolved[c][1] for c in cols})
    type_map = _col_map(cols, {c: sink_types.get(c) for c in cols})
    exp = _sink_key_counts(sink, cols)
    st = _store_rows(store)
    # duplicate rows for one (column, batch) — a replayed append — are
    # structural damage: dedupe to ONE fresh row (summary-sized join)
    st = st.join(
        st.groupBy("key_col", "batch").agg(
            F.count(F.lit(1)).alias("n_rows_cb")
        ),
        ["key_col", "batch"],
    )
    j = exp.join(st, ["key_col", "batch"], "full_outer")
    dmg = j.select(
        "key_col",
        "batch",
        F.when(F.col("n_keys").isNull(), F.lit("missing"))
        .when(F.col("n_nonnull").isNull(), F.lit("orphan"))
        .when(F.col("n_rows_cb") > 1, F.lit("structural"))
        .when(F.col("n_nonnull") != F.col("n_keys"), F.lit("mismatch"))
        .when(
            ~F.col("pos_ok")
            | (F.col("n_bits") != F.element_at(res_bits, F.col("key_col")))
            | (
                F.col("n_hashes")
                != F.element_at(res_hashes, F.col("key_col"))
            )
            | F.col("key_type").isNull()
            | (
                ~F.col("key_type").eqNullSafe(
                    F.element_at(type_map, F.col("key_col"))
                )
            ),
            F.lit("structural"),
        )
        .alias("damage"),
    ).filter(F.col("damage").isNotNull())
    # the ONLY data-row collect: one row per damaged store ROW (a
    # duplicated pair contributes each of its rows, so the report's
    # row counts stay honest) — bounded by damage, never the store or
    # sink inventory
    damaged = dmg.collect()
    counts: dict[str, dict[str, int]] = {
        c: {"missing": 0, "mismatch": 0, "structural": 0, "orphan": 0}
        for c in cols
    }
    recollect_set: set[tuple[str, int]] = set()
    for r in damaged:
        counts[r["key_col"]][r["damage"]] += 1
        if r["damage"] != "orphan":
            recollect_set.add((r["key_col"], int(r["batch"])))
    recollect = sorted(recollect_set)
    if damaged:
        affected = sorted({int(r["batch"]) for r in damaged})
        dmg_keys = spark.createDataFrame(
            sorted({(r["key_col"], int(r["batch"])) for r in damaged}),
            "key_col STRING, batch BIGINT",
        )
        new_frames: list[DataFrame] = []
        # one mergeSchema scan of exactly the damaged batches per
        # distinct resolved n_hashes (bloom_summary_rows takes one
        # n_hashes per call; geometry differences across columns are
        # rare and bounded by #cols)
        by_hashes: dict[int, list[tuple[str, int]]] = {}
        for c, b in recollect:
            by_hashes.setdefault(resolved[c][1], []).append((c, b))
        for nh, pairs_nh in by_hashes.items():
            gcols = sorted({c for c, _ in pairs_nh})
            gbatches = sorted({b for _, b in pairs_nh})
            src = (
                spark.read.option("basePath", sink_path)
                .option("mergeSchema", True)
                .parquet(*(f"{sink_path}/batch={b}" for b in gbatches))
            )
            present = [c for c in gcols if c in src.columns]
            if not present:
                continue
            rows = bloom_summary_rows(
                src.select("batch", *present),
                present,
                {c: resolved[c][0] for c in present},
                nh,
                group_cols=["batch"],
            ).select(
                F.col("batch").cast("long").alias("batch"),
                "key_col",
                "key_type",
                "n_bits",
                "n_hashes",
                "n_keys",
                "bloom_pos",
            )
            new_frames.append(
                rows.join(dmg_keys, ["key_col", "batch"], "left_semi")
            )
        keep = store.select(
            F.col("batch").cast("long").alias("batch"),
            "key_col",
            "key_type",
            "n_bits",
            "n_hashes",
            "n_keys",
            "bloom_pos",
        ).filter(F.col("batch").isin(affected)).join(
            dmg_keys, ["key_col", "batch"], "left_anti"
        )
        out = keep
        for nf in new_frames:
            out = out.unionByName(nf)
        # sever lineage: the dynamic overwrite below reads bloom_path
        out = out.localCheckpoint(eager=True)
        survived = {
            int(r["batch"])
            for r in out.select("batch").distinct().collect()
        }
        if survived:
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch")
                .parquet(bloom_path)
            )
        fs, hpath = _fs(spark, bloom_path)
        for b in affected:
            if b not in survived:
                fs.delete(hpath(f"{bloom_path}/batch={b}"), True)
    # post-repair verdicts: re-audit unless the repair emptied the
    # store (a sink with no keys needs no summaries — vacuously
    # current). A fully-emptied store directory is no longer
    # parquet-readable at all (only the original write's _SUCCESS
    # survives), so the existence check must be a listing, not a read.
    from .retention import _has_parquet

    if _has_parquet(spark, bloom_path) and spark.read.parquet(
        bloom_path
    ).limit(1).count():
        after = {
            r["key_col"]: bool(r["current"])
            for r in bloom_store_audit(spark, sink_path, bloom_path)
            .collect()
        }
    else:
        after = {}
    return spark.createDataFrame(
        [
            (
                c,
                counts[c]["missing"],
                counts[c]["mismatch"],
                counts[c]["structural"],
                counts[c]["orphan"],
                after.get(c, True),
            )
            for c in cols
        ],
        "key_col STRING, n_missing_collected BIGINT, "
        "n_mismatch_recollected BIGINT, n_structural_recollected BIGINT, "
        "n_orphan_rows_dropped BIGINT, current_after BOOLEAN",
    )
