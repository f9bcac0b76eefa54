"""Change-record decode: raw envelope → typed columns.

The reference parses each change record with per-record Python (statement
builders under data_pipeline/sql/, message deserialization under
data_pipeline/stream/ — repo-relative public paths, SURVEY.md §0/§2 T1).
Here decode is columnar: one Arrow batch in, one pandas `read_json` C-parser
call over the whole batch, one Arrow batch out — zero per-row Python on the
data path (BASELINE.json north-rule requirement).

Two implementations with identical semantics:

- ``decode_events``      mapInArrow (Arrow compute kernels), per the north
                         rule; the mapInPandas kernel (``_decode_batch``)
                         serves decimal schemas and, per batch, any batch
                         the Arrow kernel fails on (its per-row isolation
                         feeds quarantine). The schema picks the kernel,
                         not the caller. Handles rename-coalescing and
                         type-widening from the schema version.
- ``decode_events_sql``  pure Catalyst ``from_json`` — JVM-side, kept only
                         as the tests' independent cross-check (it measured
                         slower than the Arrow kernel, BENCH/BASELINE.md).
"""

from __future__ import annotations

import io
import sys
import zipimport
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.schemas import decoded_schema

_PD_CAST = {
    "int": "Int32",
    "long": "Int64",
    "integer": "Int32",
    "bigint": "Int64",
    "double": "float64",
    "float": "float32",
}


def _drop_zip_importers() -> None:
    """Forget every cached ``zipimporter`` in ``sys.path_importer_cache``.

    A reused PySpark worker calls ``importlib.invalidate_caches()`` before
    each task, and on CPython 3.11 that makes every cached zipimporter
    re-read its whole archive (pyspark.zip, and the Spark jars that sit on
    the worker's sys.path): about 0.2 s per task before the first batch.
    The decode kernels call this when they finish, so the next task's
    invalidation finds no archive to re-read. The entries are only a cache:
    an import that needs a dropped importer rebuilds it from
    ``zipimport._zip_directory_cache`` without reading the archive."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def _presence_pattern(name: str) -> str:
    """Regex matching a top-level JSON key in the raw payload. Sound for
    flat payloads with schema-controlled key names: inside a JSON string
    value every double quote is escaped (\\"), so the contiguous sequence
    `"name"` cannot occur inside a value, and after a value's closing quote
    valid JSON never puts `:` — hence a match can only be the real key. This
    is how partial-row images distinguish `{"tool": null}` (SET tool = NULL)
    from an absent key (column untouched) without any per-row parsing."""
    import re as _re

    return rf'"{_re.escape(name)}"\s*:'


def _arrow_payload_schema(
    table_fields: list[tuple[str, str]], renames: dict[str, list[str]]
):
    """Explicit Arrow schema for the bulk JSON parse: every known payload key
    (current + historical names) pinned to the type the pandas parse would
    produce — string/timestamp stay strings (the format-checked
    `pd.to_datetime` happens later, so lenient Arrow timestamp inference
    can't change semantics), numerics parse as int64/float64 exactly like
    pandas' C parser. Unknown keys fall back to inference."""
    import pyarrow as pa

    arrow_types = {
        "int": pa.int64(),
        "long": pa.int64(),
        "float": pa.float64(),
        "double": pa.float64(),
        "boolean": pa.bool_(),
    }
    fields = []
    for name, typ in table_fields:
        if name in ("conv_id", "turn_idx"):
            continue
        base = typ.split("(")[0]
        at = arrow_types.get(base, pa.float64() if base == "decimal" else pa.string())
        for nm in [name] + renames.get(name, []):
            fields.append(pa.field(nm, at))
    return pa.schema(fields)


def _bulk_parse_arrow(
    payloads: pd.Series,
    table_fields: list[tuple[str, str]],
    renames: dict[str, list[str]],
) -> pd.DataFrame | None:
    """Parse all payloads in one pyarrow ndjson read — a block-split C++
    parser, ~10× pandas' `read_json` on the same batch (measured). JSON
    strings cannot contain a raw newline (it must be escaped), so joining
    payloads with '\\n' is a faithful ndjson framing; any malformed payload
    fails the whole read and the caller falls back to the pandas path (and,
    under with_validity, its per-row isolation loop). Single-threaded on
    purpose: the executor already runs one Python worker per core — an
    in-UDF thread pool would oversubscribe the host."""
    import pyarrow.json as pj

    try:
        # Only object-shaped payloads may reach the arrow parser: a
        # top-level `null` row SEGFAULTS pyarrow.json's explicit-schema
        # reader (pyarrow 16.1 — verified in this sandbox), and top-level
        # arrays/scalars have pandas-defined semantics (row of absent
        # fields). Any non-'{'-leading payload sends the batch down the
        # pandas path.
        if not payloads.str.lstrip().str.startswith("{").all():
            return None
        buf = ("\n".join(payloads.tolist())).encode()
        tab = pj.read_json(
            io.BytesIO(buf),
            read_options=pj.ReadOptions(use_threads=False),
            parse_options=pj.ParseOptions(
                explicit_schema=_arrow_payload_schema(table_fields, renames),
                unexpected_field_behavior="infer",
            ),
        )
        parsed = tab.to_pandas()
        parsed.index = payloads.index
        return parsed
    except Exception:  # noqa: BLE001 — semantics live in the fallback path
        return None


def _decode_batch(
    pdf: pd.DataFrame,
    table_fields: list[tuple[str, str]],
    renames: dict[str, list[str]],
    with_validity: bool = False,
    field_bits: dict[str, int] | None = None,
) -> pd.DataFrame:
    """Decode one Arrow batch. table_fields = [(name, simple_type), ...] for
    the current schema version (excluding key columns); renames maps a
    current column name to its historical names (old payloads carry those).

    with_validity=True adds `_valid`/`_error` columns instead of failing the
    batch on malformed payloads (reference skip-vs-abort error handling —
    data_pipeline applier error paths + mailer, SURVEY.md §2 T11). The happy
    path stays one bulk C-level parse; the per-row isolation loop runs only
    after a bulk-parse failure."""
    out = pd.DataFrame(index=pdf.index)
    out["lsn"] = pdf["lsn"]
    out["op"] = pdf["op"]
    out["conv_id"] = pdf["conv_id"]
    out["turn_idx"] = pdf["turn_idx"]
    errors = pd.Series(None, index=pdf.index, dtype="object")

    has_payload = pdf["payload"].notna()
    payloads = pdf.loc[has_payload, "payload"]
    # A change record's payload must be a JSON OBJECT. Non-object JSON
    # (`null`, arrays, bare scalars, empty strings) is rejected UP FRONT,
    # vectorized: it would otherwise take kernel-dependent paths (pandas'
    # bulk parse silently yields an all-absent row for `null`, the per-row
    # isolation loop crashed on it, and pyarrow's explicit-schema reader
    # SEGFAULTS on it — found by hypothesis). One rule everywhere:
    # quarantine under with_validity, abort otherwise.
    if len(payloads):
        non_object = ~payloads.str.lstrip().str.startswith("{")
        if non_object.any():
            if not with_validity:
                bad_i = non_object.idxmax()
                raise ValueError(
                    f"payload is not a JSON object: {payloads.loc[bad_i]!r}"
                )
            for i in payloads.index[non_object]:
                errors.loc[i] = "payload is not a JSON object"
            payloads = payloads[~non_object]
    if len(payloads):
        # One C-level JSON parse for the whole batch (vectorized decode):
        # pyarrow's block-split ndjson parser first, pandas' read_json as
        # the fallback (identical semantics; also catches what arrow's
        # stricter framing rejects before the per-row isolation loop).
        parsed = _bulk_parse_arrow(payloads, table_fields, renames)
        try:
            if parsed is None:
                # dtype=False / convert_dates=False: read_json's inference
                # would coerce a string column whose values all LOOK numeric
                # into ints (found by hypothesis: {"text": "0"} became 0) —
                # JSON already carries the types; keep them verbatim like
                # the arrow kernel and the per-row loop do
                parsed = pd.read_json(
                    io.StringIO("[" + ",".join(payloads.tolist()) + "]"),
                    orient="records", dtype=False, convert_dates=False,
                )
                parsed.index = payloads.index
        except ValueError:
            if not with_validity:
                raise
            import json as _json

            rows, bad = {}, {}
            for i, p in payloads.items():
                try:
                    obj = _json.loads(p)
                    if not isinstance(obj, dict):
                        raise ValueError("payload is not a JSON object")
                    rows[i] = obj
                except Exception as e:  # noqa: BLE001 — quarantine any parse error
                    bad[i] = f"{type(e).__name__}: {e}"
            parsed = pd.DataFrame.from_dict(rows, orient="index")
            for i, msg in bad.items():
                errors.loc[i] = msg
    else:
        parsed = pd.DataFrame(index=payloads.index)

    for name, typ in table_fields:
        if name in ("conv_id", "turn_idx"):
            continue
        src = parsed[name] if name in parsed else pd.Series(None, index=parsed.index, dtype="object")
        for old in renames.get(name, []):
            if old in parsed:
                src = src.combine_first(parsed[old])
        col = src.reindex(pdf.index)
        if typ == "timestamp":
            col = pd.to_datetime(col, format="%Y-%m-%dT%H:%M:%S", errors="coerce")
        elif typ in _PD_CAST:
            col = col.astype(_PD_CAST[typ])
        out[name] = col
    if field_bits is not None:
        # Partial-row-image mode: presence bitmask per row (bit = field id).
        # I = full image (-1), D = nothing (0), U = the keys its payload
        # carries. Fast path: a parsed non-null value proves presence with
        # zero extra work; the C-level regex scan runs ONLY on U rows whose
        # parsed value is null (explicit `"key": null` vs absent key) — a
        # small minority. No per-row Python anywhere (the north rule).
        mask = pd.Series(0, index=pdf.index, dtype="int64")
        is_i = pdf["op"] == "I"
        is_d = pdf["op"] == "D"
        is_u = ~(is_i | is_d)
        raw = pdf["payload"]
        for name, fid in field_bits.items():
            names = [name] + renames.get(name, [])
            pres = pd.Series(False, index=pdf.index)
            for nm in names:
                if nm in parsed:
                    pres |= parsed[nm].notna().reindex(pdf.index, fill_value=False)
            cand = is_u & ~pres & raw.notna()
            if cand.any():
                sub = raw[cand]
                hit = pd.Series(False, index=sub.index)
                for nm in names:
                    hit |= sub.str.contains(_presence_pattern(nm), regex=True)
                pres.loc[hit.index] = pres.loc[hit.index] | hit
            mask = mask + pres.astype("int64") * (1 << fid)
        out["_set_mask"] = mask.where(~is_i, -1).where(~is_d, 0)
    if with_validity:
        # a DML row must have a parseable payload and a key to be applicable
        missing_key = out["conv_id"].isna() | out["turn_idx"].isna()
        errors = errors.where(~missing_key, "missing merge key")
        dml_needs_payload = pdf["op"].isin(["I", "U"]) & ~has_payload
        errors = errors.where(~dml_needs_payload, "missing payload for I/U")
        out["_payload"] = pdf["payload"]  # raw image: lets quarantined rows be reprocessed
        out["_error"] = errors
        out["_valid"] = errors.isna()
    return out


def _decode_batch_arrow(
    rb,
    table_fields: list[tuple[str, str]],
    renames: dict[str, list[str]],
    with_validity: bool,
    field_bits: dict[str, int] | None,
    out_arrow_schema,
):
    """Decode one Arrow RecordBatch entirely in Arrow compute kernels — no
    pandas conversion, no Python string materialization. Same contract as
    `_decode_batch`; raises on any malformed payload (the caller falls back
    to the pandas path for that batch, which has the per-row isolation
    loop). Each step is one vectorized C++ kernel:

    - all payloads join into ONE ndjson buffer (`binary_join` over a
      single-cell list wrap — JSON strings cannot contain a raw newline) and
      parse in one `pyarrow.json` read;
    - parsed rows scatter back to batch positions via `take` with a
      null-masked cumulative-sum index (rows without payload get nulls);
    - renames coalesce, timestamps `strptime` (error→null, matching the
      pandas path's coerce), numerics cast;
    - partial-image presence = parsed-value validity | key-regex match
      (`match_substring_regex`), folded into the `_set_mask` bitmask.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n = rb.num_rows
    payload = rb.column(rb.schema.get_field_index("payload"))
    valid_payload = pc.is_valid(payload)
    nonnull = payload.drop_null()
    if len(nonnull):
        import pyarrow.json as pj

        # object-shaped payloads only — see _bulk_parse_arrow: a top-level
        # `null` row segfaults pyarrow.json's explicit-schema reader, and
        # non-object payloads have pandas-defined semantics (fallback path)
        if not pc.all(
            pc.starts_with(pc.utf8_ltrim_whitespace(nonnull), "{")
        ).as_py():
            raise ValueError("non-object payload: pandas path defines semantics")
        joined = pc.binary_join(
            pa.ListArray.from_arrays([0, len(nonnull)], nonnull), "\n"
        )
        # zero-copy handoff: BinaryScalar.as_buffer() views the join result's
        # data buffer directly — no Python str materialization of the batch
        # (the old `.as_py().encode()` copied every payload through a Python
        # string once per batch on the hot decode path).
        tab = pj.read_json(
            pa.BufferReader(pc.cast(joined, pa.binary())[0].as_buffer()),
            read_options=pj.ReadOptions(use_threads=False),
            parse_options=pj.ParseOptions(
                explicit_schema=_arrow_payload_schema(table_fields, renames),
                unexpected_field_behavior="infer",
            ),
        )
        if tab.num_rows != len(nonnull):
            raise ValueError("ndjson row-count mismatch (embedded newline?)")
    else:
        tab = None
    # batch position -> parsed row index (null where payload was null)
    csum = pc.cumulative_sum(pc.cast(valid_payload, pa.int64()))
    idx = pc.if_else(valid_payload, pc.subtract(csum, 1), pa.nulls(n, pa.int64()))

    def parsed_col(name: str):
        if tab is None or name not in tab.column_names:
            return None
        col = tab.column(name)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        return pc.take(col, idx)

    out_type = {f.name: f.type for f in out_arrow_schema}
    cols: dict[str, pa.Array] = {}
    cols["lsn"] = pc.cast(rb.column(rb.schema.get_field_index("lsn")), out_type["lsn"])
    cols["op"] = pc.cast(rb.column(rb.schema.get_field_index("op")), out_type["op"])
    cols["conv_id"] = pc.cast(
        rb.column(rb.schema.get_field_index("conv_id")), out_type["conv_id"]
    )
    cols["turn_idx"] = pc.cast(
        rb.column(rb.schema.get_field_index("turn_idx")), out_type["turn_idx"]
    )
    presence: dict[str, pa.Array] = {}
    for name, typ in table_fields:
        if name in ("conv_id", "turn_idx"):
            continue
        src = parsed_col(name)
        for old in renames.get(name, []):
            alt = parsed_col(old)
            if alt is not None:
                src = alt if src is None else pc.coalesce(src, alt)
        if src is None:
            cols[name] = pa.nulls(n, out_type[name])
            continue
        if field_bits is not None:
            presence[name] = pc.is_valid(src)
        if typ == "timestamp":
            if pa.types.is_string(src.type):
                ts = pc.strptime(src, format="%Y-%m-%dT%H:%M:%S", unit="us",
                                 error_is_null=True)
            else:
                ts = src
            tz = getattr(out_type[name], "tz", None)
            if tz and getattr(ts.type, "tz", None) is None:
                ts = pc.assume_timezone(ts, tz)
            cols[name] = pc.cast(ts, out_type[name])
        else:
            cols[name] = pc.cast(src, out_type[name])
    if field_bits is not None:
        is_i = pc.equal(cols["op"], "I")
        is_d = pc.equal(cols["op"], "D")
        is_u = pc.and_(pc.invert(pc.fill_null(is_i, False)),
                       pc.invert(pc.fill_null(is_d, False)))
        mask = pa.array([0] * n, pa.int64()) if n else pa.array([], pa.int64())
        falses = pa.array([False] * n, pa.bool_())
        for name, fid in field_bits.items():
            names = [name] + renames.get(name, [])
            pres = pc.fill_null(presence.get(name, falses), False)
            # explicit `"key": null` parses to null but must count as SET:
            # the key-regex over the raw payload catches it (same rule as
            # the pandas path; see _presence_pattern for why it is sound).
            # The regex runs ONLY on the candidate minority — U rows whose
            # parsed value is null (filter → regex → scatter back with
            # replace_with_mask), not the whole batch: full-image feeds pay
            # ~zero regex cost.
            cand = pc.and_(pc.and_(is_u, pc.invert(pres)), valid_payload)
            if pc.any(cand).as_py():
                sub = pc.filter(payload, cand)
                hit = None
                for nm in names:
                    h = pc.match_substring_regex(sub, _presence_pattern(nm))
                    hit = h if hit is None else pc.or_(hit, h)
                pres = pc.replace_with_mask(pres, cand, hit)
            mask = pc.add(
                mask, pc.multiply(pc.cast(pres, pa.int64()),
                                  pa.scalar(1 << fid, pa.int64())),
            )
        # null-filled conditions: a null op must take the U branch (emit the
        # computed mask), matching the pandas kernel — a null condition in
        # if_else would otherwise null the output mask for that row.
        mask = pc.if_else(pc.fill_null(is_i, False), pa.scalar(-1, pa.int64()),
                          pc.if_else(pc.fill_null(is_d, False),
                                     pa.scalar(0, pa.int64()), mask))
        cols["_set_mask"] = mask
    if with_validity:
        missing_key = pc.or_kleene(
            pc.is_null(cols["conv_id"]), pc.is_null(cols["turn_idx"])
        )
        needs_payload = pc.and_kleene(
            pc.is_in(cols["op"], value_set=pa.array(["I", "U"])),
            pc.is_null(payload),
        )
        err = pc.if_else(
            pc.fill_null(needs_payload, False), pa.scalar("missing payload for I/U"),
            pc.if_else(pc.fill_null(missing_key, False),
                       pa.scalar("missing merge key"), pa.nulls(n, pa.string())),
        )
        cols["_payload"] = pc.cast(payload, pa.string())
        cols["_error"] = err
        cols["_valid"] = pc.is_null(err)
    return pa.RecordBatch.from_arrays(
        [pc.cast(cols[f.name], f.type) for f in out_arrow_schema],
        schema=out_arrow_schema,
    )


def decode_events(
    raw: DataFrame,
    table_schema: T.StructType,
    renames: dict[str, list[str]] | None = None,
    with_validity: bool = False,
    field_bits: dict[str, int] | None = None,
) -> DataFrame:
    """Arrow-vectorized decode of DML change records (op != 'DDL').

    Returns a DataFrame with schema ``decoded_schema(table_schema)``:
    (lsn, op, <table columns>) — plus (_error, _valid) when
    with_validity=True (malformed records flagged instead of failing the
    batch; the ingest loop quarantines them). Key columns come from the
    envelope and are cast to the current schema types (covers the turn_idx
    widen).

    The kernel is `mapInArrow` + pure Arrow compute kernels — the batch
    never converts to pandas, strings never materialize as Python
    objects, so the Python worker's CPU share is several-fold smaller (this
    is what keeps N→4N scaling efficient: the decode stage doubles the
    process count, and its CPU footprint is what presses the host's SMT
    ceiling at 4N). Falls back to the pandas kernel PER BATCH on any parse
    error (that path has the per-row isolation loop for quarantine mode).
    Decimal schemas take the mapInPandas kernel throughout (arrow
    float→decimal casts round differently; the pandas path hands floats to
    Spark unchanged).
    """
    renames = renames or {}
    out_schema = decoded_schema(table_schema)
    if field_bits is not None:
        out_schema = T.StructType(
            out_schema.fields + [T.StructField("_set_mask", T.LongType(), True)]
        )
    if with_validity:
        out_schema = T.StructType(
            out_schema.fields
            + [T.StructField("_payload", T.StringType(), True),
               T.StructField("_error", T.StringType(), True),
               T.StructField("_valid", T.BooleanType(), False)]
        )
    fields = [(f.name, f.dataType.simpleString()) for f in table_schema.fields]

    # Project to exactly the envelope columns the decode reads before the
    # Python boundary: Catalyst cannot column-prune through an opaque
    # mapInPandas/mapInArrow, so an unused envelope column (e.g. the
    # transport `ts`) would otherwise ride the Arrow IPC both ways.
    dml = raw.where(F.col("op") != "DDL").select(
        "lsn", "op", "conv_id", "turn_idx", "payload"
    )

    has_decimal = any(t.startswith("decimal") for _, t in fields)
    if not has_decimal:
        from pyspark.sql.pandas.types import to_arrow_schema

        out_arrow = to_arrow_schema(out_schema)

        def afn(batches):
            try:
                for rb in batches:
                    try:
                        yield _decode_batch_arrow(
                            rb, fields, renames, with_validity, field_bits, out_arrow
                        )
                    except Exception:  # noqa: BLE001 — pandas path isolates rows
                        import pyarrow as pa

                        out = _decode_batch(
                            rb.to_pandas(), fields, renames, with_validity, field_bits
                        )
                        yield pa.RecordBatch.from_pandas(
                            out, schema=out_arrow, preserve_index=False
                        )
            finally:
                _drop_zip_importers()

        return dml.mapInArrow(afn, schema=out_schema)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            for pdf in batches:
                yield _decode_batch(pdf, fields, renames, with_validity, field_bits)
        finally:
            _drop_zip_importers()

    return dml.mapInPandas(fn, schema=out_schema)


def decode_events_sql(
    raw: DataFrame,
    table_schema: T.StructType,
    renames: dict[str, list[str]] | None = None,
    field_bits: dict[str, int] | None = None,
) -> DataFrame:
    """Catalyst-only decode via ``from_json`` — same output contract as
    ``decode_events`` on well-formed payloads; stays entirely inside
    whole-stage codegen. A test cross-check only: a malformed payload
    decodes to nulls (PERMISSIVE) instead of failing or being
    quarantined."""
    renames = renames or {}
    # from_json needs every historical payload key in the parse schema.
    parse_fields = []
    for f in table_schema.fields:
        if f.name in ("conv_id", "turn_idx"):
            continue
        typ = T.StringType() if isinstance(f.dataType, T.TimestampType) else f.dataType
        parse_fields.append(T.StructField(f.name, typ, True))
        for old in renames.get(f.name, []):
            parse_fields.append(T.StructField(old, T.StringType(), True))
    parsed = F.from_json(F.col("payload"), T.StructType(parse_fields))
    cols = [F.col("lsn"), F.col("op"), F.col("conv_id")]
    key_type = dict((f.name, f.dataType) for f in table_schema.fields)
    cols.append(F.col("turn_idx").cast(key_type["turn_idx"]).alias("turn_idx"))
    for f in table_schema.fields:
        if f.name in ("conv_id", "turn_idx"):
            continue
        expr = F.col(f"j.{f.name}")
        for old in renames.get(f.name, []):
            expr = F.coalesce(expr, F.col(f"j.{old}").cast(f.dataType))
        if isinstance(f.dataType, T.TimestampType):
            expr = F.to_timestamp(expr, "yyyy-MM-dd'T'HH:mm:ss")
        cols.append(expr.alias(f.name))
    if field_bits is not None:
        # presence bitmask via JVM-side rlike on the raw payload — same
        # semantics as the pandas path (see _presence_pattern)
        mask = F.lit(0).cast("long")
        for name, fid in field_bits.items():
            pres = F.col("payload").rlike(_presence_pattern(name))
            for old in renames.get(name, []):
                pres = pres | F.col("payload").rlike(_presence_pattern(old))
            mask = mask + F.when(pres, F.lit(1 << fid).cast("long")).otherwise(F.lit(0).cast("long"))
        mask = (
            F.when(F.col("op") == "I", F.lit(-1).cast("long"))
            .when(F.col("op") == "D", F.lit(0).cast("long"))
            .otherwise(mask)
        )
        cols.append(mask.alias("_set_mask"))
    return (
        raw.where(F.col("op") != "DDL")
        .withColumn("j", parsed)
        .select(*cols)
    )
