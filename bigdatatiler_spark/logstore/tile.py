"""Tiling operator pair: size-bounded record splitting and reassembly.

Reference parity (SURVEY.md §2.9, §2.4):
- ``tile``       → LogChange.loadXmlFile's chunk fan-out
  (/root/reference/LogChange.cs:99-175): payloads over a size threshold are
  split into fixed-size chunks emitted as linked rows (parent keeps the
  record id; children carry ``split_index``/``total_splits``/``parent_id``).
- ``reassemble`` → CombineSplitLogs' ordered concatenation merge
  (/root/reference/LogChange.cs:312-342 + BigDataLogControl.cs:120-190):
  gather chunks by parent, sort by split_index, concatenate.

Spark-first design: chunking is ``sequence + transform + substring`` +
``posexplode`` (pure built-ins, whole-stage codegen — no UDF); reassembly
is the order-sensitive-agg-inside-unordered-groupBy pattern:
``array_join(transform(array_sort(collect_list(struct(idx, chunk)))))``.
One shuffle each way. The reference's compression-ratio chunk-size
estimation (LogChange.cs:122-130) is environment-dependent; here chunk
size is an explicit parameter for reproducibility (SURVEY.md §7 hard
parts). Round-trip invariant: ``reassemble(tile(df)) == df`` — tested in
tests/test_tiling.py across the unsplit/split boundary.

At 100 TB: both operators are shuffle-once, key-partitioned on the record
id — no driver-side loops, no collect; Parquet has no 2 MB record limit so
tiling is a *semantic* operator (downstream batch sizing), not a storage
workaround.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

#: Reference default: 1.5 MB compressed-chunk cap (LogChange.cs:23-24).
#: For text tiling the analog is a character budget per chunk.
DEFAULT_CHUNK_CHARS = 1_500_000

# O26 policy constants, straight from the reference:
MAX_ZIP_BYTES = 1_500_000  # compressed-chunk byte cap (LogChange.cs:23-24)
EST_SAFETY = 0.7           # compression-ratio estimate safety (LogChange.cs:123)
FIRST_FLOOR = 50_000       # first-pass min chunk chars (LogChange.cs:127-130)
RESPLIT_FLOOR = 10_000     # re-split min chunk chars (LogChange.cs:232-235)
RESPLIT_MARGIN = 1.3       # shrink margin on observed overage (LogChange.cs:229)
MAX_RESPLIT_ROUNDS = 8     # loop bound; running out raises FixpointNotConverged


def tile(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    chunk_chars: int = DEFAULT_CHUNK_CHARS,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split oversized payloads into linked chunk rows.

    Output columns: ``id_col``, ``*keep_cols``, ``split_index`` (0-based),
    ``total_splits``, ``parent_id`` (null on unsplit rows, = id on chunks —
    mirroring LogChange.cs:110-118 vs 143-170), ``chunk``.
    Unsplit fast path (payload fits) emits exactly one row with
    ``total_splits = 1``, like the reference's short-circuit.
    """
    n_chunks = F.ceil(F.length(payload_col) / F.lit(chunk_chars)).cast("int")
    chunks = F.when(
        n_chunks <= 1, F.array(F.col(payload_col))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.col(payload_col).substr(
                i * F.lit(chunk_chars) + 1, F.lit(chunk_chars)
            ),
        )
    )
    keep = [F.col(c) for c in keep_cols]
    exploded = df.select(
        F.col(id_col),
        *keep,
        F.posexplode(chunks).alias("split_index", "chunk"),
        F.size(chunks).alias("total_splits"),
    )
    return exploded.withColumn(
        "parent_id",
        F.when(F.col("total_splits") > 1, F.col(id_col)).otherwise(F.lit(None)),
    )


def _chunked(payload: Column, cc: Column) -> Column:
    """Array of ``cc``-char substrings covering ``payload`` (≥1 element)."""
    n = F.greatest(F.ceil(F.length(payload) / cc).cast("int"), F.lit(1))
    return F.when(n <= 1, F.array(payload)).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: payload.substr(i * cc + F.lit(1), cc),
        )
    )


def tile_bytecap(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_zip_bytes: int = MAX_ZIP_BYTES,
    keep_cols: tuple[str, ...] = (),
    first_floor: int = FIRST_FLOOR,
    resplit_floor: int = RESPLIT_FLOOR,
    max_rounds: int = MAX_RESPLIT_ROUNDS,
) -> DataFrame:
    """O26/O29: compressed-size-validated tiling — the reference's one
    engine-specific physical policy (LogChange.cs:99-175 + 214-257),
    re-expressed as a bounded distributed fixpoint:

    1. Zip the whole payload once; records whose archive fits the cap
       emit unsplit (the short-circuit at LogChange.cs:110-118).
    2. Oversized records estimate a chunk size from the *observed*
       compression ratio × 0.7 safety, floor 50 000 chars
       (LogChange.cs:122-130), and split by substring arithmetic.
    3. Each chunk is zipped and VALIDATED: chunks over the cap shrink
       their chunk size by the observed overage × 1.3 margin, floor
       10 000 chars (LogChange.cs:214-257), and re-split — only the
       offending chunks re-enter the loop, everything else is done.
       A chunk already at the floor emits as-is (the reference's
       recursion bottoms out the same way).
    4. Surviving leaves renumber densely per record in text order.

    Text order under re-splitting is tracked as a path vector ``idx``
    (array<int>): a re-split chunk's children append their sub-position,
    and lexicographic array order = DFS order = original text order, so
    the final ``row_number() over (partition by id order by idx)`` is
    the reference's SplitIndex. Round-trip invariant
    ``reassemble(tile_bytecap(x)) == x`` holds by construction and is
    property-tested.

    Scale: per round the work is one Arrow-batched zip pass over the
    *still-oversized residue only* (shrinking geometrically), no shuffle
    until the final per-record renumber (one exchange); the loop is
    driver-controlled but bounded and each round's decision is a
    1-row count, never a data collect. A residue still over the cap
    after ``max_rounds`` raises ``FixpointNotConverged`` rather than
    dropping its text. Output: ``id_col``,
    ``keep_cols``, ``split_index``, ``total_splits``, ``parent_id``,
    ``chunk``, ``zipped`` (the validated archive), ``zip_bytes``.
    """
    from .codec import zip_payload

    cap = F.lit(max_zip_bytes)
    entry = F.concat(F.col(id_col).cast("string"), F.lit(".xml"))
    keep = [F.col(c) for c in keep_cols]

    # Split-normalized + lineage-cut since r9. Two measured pathologies
    # at bench SF: (1) the upstream conflict-arbiter groupBy's tiny
    # shuffle output gets AQE-coalesced to ONE partition, serializing
    # every zip round onto one core (5.1 s for a single whole-zip pass,
    # 0.2 s split-normalized — the round-3 aHash lesson again); (2) a
    # persist()-only frame re-enters the STATIC plan of every downstream
    # branch (fits + each round's done part), so any upstream exchange
    # multiplies ~30× in the audited node count. localCheckpoint (the
    # graph-ops lineage-cut pattern) materializes the zipped frame once
    # and truncates the plan, fixing both: each branch reads the RDD
    # directly. On a real multi-file corpus the repartition is a no-op
    # decision; the checkpoint is executor-local, same as graph.py.
    from ..operators._util import FixpointNotConverged, ensure_parallelism

    whole = (
        ensure_parallelism(
            df.select(F.col(id_col), *keep, F.col(payload_col).alias("chunk"))
        )
        .withColumn("zipped", zip_payload(F.col("chunk"), entry))
        .withColumn("zip_bytes", F.length("zipped"))
        # eager=False: the plan cut applies immediately; the archive blocks
        # materialize inside round 1's residue count instead of a separate
        # up-front job (r12: one fewer job per fixpoint pass)
        .localCheckpoint(eager=False)
    )
    # null payloads ride the unsplit path (single row, null chunk/zip)
    fits = whole.where(
        (F.col("zip_bytes") <= cap) | F.col("chunk").isNull()
    ).withColumn("idx", F.array(F.lit(0)))

    big = whole.where(F.col("zip_bytes") > cap)
    # chars/byte ratio from the whole-record archive, ×0.7 safety
    est_cc = F.greatest(
        F.floor(
            F.lit(max_zip_bytes * EST_SAFETY)
            * F.length("chunk")
            / F.col("zip_bytes")
        ),
        F.lit(first_floor),
    )
    state = (
        big.withColumn("cc", est_cc)
        .select(
            F.col(id_col),
            *keep,
            "cc",
            F.posexplode(_chunked(F.col("chunk"), F.col("cc"))).alias(
                "pos", "chunk"
            ),
        )
        .select(
            F.col(id_col), *keep, F.array("pos").alias("idx"), "chunk", "cc"
        )
    )

    done = [fits.select(F.col(id_col), *keep, "idx", "chunk", "zipped", "zip_bytes")]
    for _ in range(max_rounds):
        # localCheckpoint, not persist: same lineage-cut rationale as
        # `whole` — each round's archives are zipped exactly once and no
        # downstream branch replays the round's plan
        z = (
            state.withColumn("zipped", zip_payload(F.col("chunk"), entry))
            .withColumn("zip_bytes", F.length("zipped"))
            .localCheckpoint(eager=False)
        )
        new_cc = F.greatest(
            F.floor(
                F.col("cc") * cap / (F.col("zip_bytes") * F.lit(RESPLIT_MARGIN))
            ),
            F.lit(resplit_floor),
        )
        needs_resplit = (F.col("zip_bytes") > cap) & (new_cc < F.col("cc"))
        done.append(
            z.where(~needs_resplit).select(
                F.col(id_col), *keep, "idx", "chunk", "zipped", "zip_bytes"
            )
        )
        bad = z.where(needs_resplit)
        # count() over the checkpointed z doubles as its materializing job
        # (the lazy checkpoint's blocks persist during this scan).
        # Still a 1-long driver result, never a data collect.
        if bad.count() == 0:
            break
        # stage the shrunk size under a fresh name: aliasing it back to
        # "cc" in the same select that reads old "cc" inside the explode
        # lambda trips Spark's lateral-column-alias resolution
        resplit = bad.select(
            F.col(id_col), *keep, "idx", new_cc.alias("cc_next"), "chunk"
        )
        state = resplit.select(
            F.col(id_col),
            *keep,
            "idx",
            F.col("cc_next").alias("cc"),
            F.posexplode(_chunked(F.col("chunk"), F.col("cc_next"))).alias(
                "pos", "sub"
            ),
        ).select(
            F.col(id_col),
            *keep,
            F.concat("idx", F.array("pos")).alias("idx"),
            F.col("sub").alias("chunk"),
            "cc",
        )
    else:
        # the last round's re-split residue was never zipped or emitted:
        # returning now would drop its text
        raise FixpointNotConverged(
            f"tile_bytecap: chunks still over {max_zip_bytes} zip bytes "
            f"after max_rounds={max_rounds}"
        )

    leaves = done[0]
    for part in done[1:]:
        leaves = leaves.unionByName(part)
    wp = Window.partitionBy(id_col)
    return (
        leaves.withColumn(
            "split_index", F.row_number().over(wp.orderBy("idx")) - 1
        )
        .withColumn("total_splits", F.count("*").over(wp).cast("int"))
        .withColumn(
            "parent_id",
            F.when(F.col("total_splits") > 1, F.col(id_col)).otherwise(
                F.lit(None)
            ),
        )
        .select(
            F.col(id_col),
            *keep,
            "split_index",
            "total_splits",
            "parent_id",
            "chunk",
            "zipped",
            "zip_bytes",
        )
    )


def reassemble(
    chunks_df: DataFrame,
    id_col: str,
    parent_col: str | None = "parent_id",
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Inverse of :func:`tile` — ordered merge of chunk chains.

    Groups by the logical record id (``coalesce(parent_id, id)`` handles
    unsplit rows), sorts chunks by ``split_index`` *inside* the aggregate
    (array_sort over collected structs — never bare collect_list, which has
    no ordering guarantee across partitions), and concatenates.

    ``parent_col=None`` (r12): for chunk frames whose every row already
    carries the record id in ``id_col`` (``tile``/``tile_bytecap`` output,
    where ``parent_id`` is id-or-null by construction), group on ``id_col``
    directly — value-identical to the coalesce key, but Catalyst can then
    PROVE the grouping matches the upstream window partitioning and skip
    the second exchange. ``extra_aggs`` folds additional per-record
    aggregates (e.g. ``max(zip_bytes)`` for cap validation) into the same
    groupBy instead of a second aggregation pass + join over the chunk
    frame."""
    record_id = (
        F.col(id_col)
        if parent_col is None
        else F.coalesce(F.col(parent_col), F.col(id_col))
    )
    return (
        chunks_df.groupBy(record_id.alias("record_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("split_index", "chunk"))),
                    lambda s: s["chunk"],
                ),
                "",
            ).alias("payload"),
            F.count("*").alias("n_chunks"),
            F.max("total_splits").alias("total_splits"),
            *[c.alias(n) for n, c in (extra_aggs or {}).items()],
        )
    )
