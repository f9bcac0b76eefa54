"""MERGE reconcile: existing rows ⊎ changeset → surviving rows.

Pure DataFrame → DataFrame operators (storage-agnostic; `plans.table_format`
wires them to the write paths). Semantically this is the reference's apply
loop — INSERT/UPDATE/DELETE per key in LSN order (data_pipeline/applier/
applier.py, SURVEY.md §2 K3/T5) — collapsed into one reduction per key.

Two image modes, mirroring the two CDC capture shapes the reference handles:

- **full-row images** (MSSQL CT style — every U carries the complete row):
  `merge_changeset` — plain last-writer-wins, the max-LSN op per key wins.
- **partial-row images** (Oracle LogMiner style — an U carries only the
  columns its UPDATE statement SET, possibly to NULL): `merge_changeset
  _partial` — true sequential-apply semantics folded per COLUMN: the last
  I/D op is the row boundary (existence + base image), and each column takes
  its value from the latest op at-or-after that boundary that set it. An
  update whose key has no base row is a no-op (the reference's UPDATE
  affecting 0 rows).

Both are max-of-struct aggregations, NOT windows: `groupBy(key).agg(
max(when(cond, struct(lsn, op_rank, …))))` gets map-side partial
aggregation, so duplicate/hot keys collapse before the shuffle — a window
(row_number) ships every row of a hot key to a single reducer first. Struct
comparison is lexicographic on (lsn, op_rank), i.e. exactly the LWW total
order; the per-column conditional maxes are correct because a full image (I)
qualifies for every column, so each column's winning candidate is always
at-or-after the boundary.

Column presence travels as a BITMASK (`_set_mask: long`, bit = the column's
table-format field id — stable across renames): -1 (all bits) = full image
(I rows, base rows), 0 = nothing (D rows), else the set columns of a partial
U. A bitmask instead of per-column booleans keeps decode fully vectorized
and delta files schema-evolution-proof.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_spark.operators.lww import lww_collapse_agg, op_rank_expr


def merge_changeset(
    existing: DataFrame | None,
    changes: DataFrame,
    data_cols: list[str],
    keys: tuple[str, str] = ("conv_id", "turn_idx"),
    extra_cols: tuple[str, ...] = ("_bucket",),
    keep_deletes: bool = False,
) -> DataFrame:
    """existing: (lsn, op='I', *data_cols, *extra_cols) or None;
    changes: (lsn, op, *data_cols, *extra_cols).
    Returns surviving rows: (*extra_cols, lsn, *data_cols), deletes dropped.

    keep_deletes=True keeps each key's winning row even when it is a
    tombstone and emits the winner's `op` column after `lsn` — the
    changeset-SQUASH shape: the output stack is read-time-LWW-equivalent
    to the input stack (full-row-image mode only; partial images fold
    per column, not per row). Used by mixed-spec compaction, where a
    tombstone may shadow a base row that still lives in an old-spec file
    and therefore must survive the fold."""
    both = existing.unionByName(changes) if existing is not None else changes
    key_cols = list(keys)
    payload_cols = [c for c in data_cols if c not in key_cols]
    winner = lww_collapse_agg(
        both.select("lsn", "op", *key_cols, *extra_cols, *payload_cols), key_cols
    )
    if not keep_deletes:
        winner = winner.where(F.col("op") != "D")
    return winner.select(
        *extra_cols, "lsn", *(["op"] if keep_deletes else []), *key_cols, *payload_cols
    )


# ---------------------------------------------------------------------------
# Partial-row-image fold (sequential-apply semantics, one aggregation)
# ---------------------------------------------------------------------------

MASK_COL = "_set_mask"
FULL_MASK = -1  # two's-complement all-ones: every field id bit set


def set_mask_bit(field_id: int) -> int:
    return 1 << field_id


def _mask_has(field_id: int) -> Column:
    """True when the row's image defines this column: full image (mask null
    or -1 via the bit test) or the field-id bit is set."""
    bit = F.lit(set_mask_bit(field_id)).cast("long")
    return F.col(MASK_COL).isNull() | (F.col(MASK_COL).bitwiseAND(bit) != 0)


def _partial_fold(
    df: DataFrame,
    field_bits: dict[str, int],
    keys: tuple[str, ...],
    extra_cols: tuple[str, ...],
) -> DataFrame:
    """groupBy(key) with: `_bnd` = the last I/D op (row boundary), `_c_<col>`
    = latest op that set the column, `_lsn_max`, `_mask_or` (union of partial
    masks), and max of each extra col (constant per key). One shuffle, fully
    map-side-combinable — hot keys pre-collapse in each map partition.

    The LWW total order (lsn, op_rank) is PACKED into one long
    (`lsn*4 + op_rank`, op_rank < 4) so each per-column aggregate is a
    two-field `max_by(value, ord)` instead of a three-field struct max —
    half the aggregation-buffer width and no struct comparisons (measured
    faster on the 16M-event partial replay). `max_by` ignores rows whose
    ordering key is null, which is exactly the did-not-set-this-column
    filter. Requires lsn < 2^61 (any realistic SCN/LSN)."""
    ordk = F.col("lsn") * 4 + op_rank_expr()
    aggs = [
        # boundary packed too: op_rank 0=I / 2=D ⇒ ord%4 identifies the op
        F.max(F.when(F.col("op").isin("I", "D"), ordk)).alias("_bnd_ord"),
        F.max("lsn").alias("_lsn_max"),
        F.bit_or(
            F.when(F.col("op") == "U", F.coalesce(F.col(MASK_COL), F.lit(FULL_MASK).cast("long")))
        ).alias("_mask_or"),
    ]
    for c, fid in field_bits.items():
        cond = (F.col("op") == "I") | _mask_has(fid)
        aggs.append(F.max_by(F.col(c), F.when(cond, ordk)).alias(f"_c_{c}"))
    for e in extra_cols:
        aggs.append(F.max(e).alias(e))
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def merge_changeset_partial(
    existing: DataFrame | None,
    changes: DataFrame,
    field_bits: dict[str, int],
    keys: tuple[str, str] = ("conv_id", "turn_idx"),
    extra_cols: tuple[str, ...] = ("_bucket",),
) -> DataFrame:
    """Sequential-apply fold with partial-row images → surviving final rows.

    existing: (lsn, op='I', *cols[, MASK_COL null], *extra) or None;
    changes:  (lsn, op, MASK_COL, *cols, *extra).
    Returns (*extra, lsn, *keys, *cols): per key, exists iff the last I/D op
    is an I; each column = value of the latest at-or-after-boundary op that
    set it. An U with no I/D in its key's history is dropped (strict no-op,
    matching the reference applier's UPDATE-row-not-found behavior).
    """
    if existing is not None:
        if MASK_COL not in existing.columns:
            existing = existing.withColumn(MASK_COL, F.lit(None).cast("long"))
        both = existing.unionByName(changes)
    else:
        both = changes
    folded = _partial_fold(both, field_bits, keys, extra_cols)
    live = folded.where(
        F.col("_bnd_ord").isNotNull() & (F.col("_bnd_ord") % 4 == 0)  # last I/D is an I
    )
    return live.select(
        *[F.col(e) for e in extra_cols],
        F.col("_lsn_max").alias("lsn"),
        *[F.col(k) for k in keys],
        *[F.col(f"_c_{c}").alias(c) for c in field_bits],
    )


def collapse_partial(
    changes: DataFrame,
    field_bits: dict[str, int],
    keys: tuple[str, str] = ("conv_id", "turn_idx"),
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Collapse a micro-batch of partial-image ops to ≤1 changeset row per
    key — the partial-mode replacement for `lww_dedup` (which would DROP
    stacked partial updates: U(set text) then U(set tool) must compose, not
    last-win). The column-wise fold is associative, so the collapsed row
    later folds against base/delta layers exactly as the original sequence
    would:

    - last I/D op is an I  → one 'I' row, full image (mask -1): the I's image
      overlaid with every later partial update;
    - last I/D op is a D   → one 'D' tombstone (trailing updates after the
      delete are dead per sequential semantics);
    - only U ops           → one 'U' row whose mask is the union of the set
      columns and each column holds the latest set value.

    Output: (*extra, lsn, op, MASK_COL, *keys, *cols).
    """
    folded = _partial_fold(changes, field_bits, keys, extra_cols)
    bnd_op = F.when(F.col("_bnd_ord") % 4 == 2, F.lit("D")).otherwise(F.lit("I"))
    op_out = F.when(F.col("_bnd_ord").isNull(), F.lit("U")).otherwise(bnd_op)
    mask_out = (
        F.when(F.col("_bnd_ord").isNull(), F.coalesce(F.col("_mask_or"), F.lit(0).cast("long")))
        .when(bnd_op == "D", F.lit(0).cast("long"))
        .otherwise(F.lit(FULL_MASK).cast("long"))
    )
    cols = []
    for c, fid in field_bits.items():
        bit = F.lit(set_mask_bit(fid)).cast("long")
        keep = op_out.isin("I") | (mask_out.bitwiseAND(bit) != 0)
        cols.append(F.when(keep, F.col(f"_c_{c}")).alias(c))
    return folded.select(
        *[F.col(e) for e in extra_cols],
        F.col("_lsn_max").alias("lsn"),
        op_out.alias("op"),
        mask_out.alias(MASK_COL),
        *[F.col(k) for k in keys],
        *cols,
    )
