"""Change-record decode: raw envelope → typed columns.

The reference parses each change record with per-record Python (statement
builders under data_pipeline/sql/, message deserialization under
data_pipeline/stream/ — repo-relative public paths, SURVEY.md §0/§2 T1).
Here decode is columnar: one Arrow batch in, one pyarrow ndjson parse of
every payload in the batch, Arrow compute kernels for the rest, one Arrow
batch out — zero per-row Python on the data path (BASELINE.json
north-rule requirement).

- ``decode_events``      one ``mapInArrow`` kernel (``_decode_batch_arrow``)
                         for every schema, decimals included. A batch the
                         kernel rejects (malformed or non-object JSON) is
                         decoded by ``_decode_batch``, the row-isolation
                         fallback: ``json.loads`` per row, bad rows flagged
                         for quarantine or raised, the same Arrow assembly
                         after the parse. Handles rename-coalescing and
                         type-widening from the schema version.
- ``decode_events_sql``  pure Catalyst ``from_json`` — JVM-side, kept only
                         as the tests' independent cross-check (it measured
                         slower than the Arrow kernel, BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import sys
import zipimport

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.schemas import decoded_schema


def _drop_zip_importers() -> None:
    """Forget every cached ``zipimporter`` in ``sys.path_importer_cache``.

    A reused PySpark worker calls ``importlib.invalidate_caches()`` before
    each task, and on CPython 3.11 that makes every cached zipimporter
    re-read its whole archive (pyspark.zip, and the Spark jars that sit on
    the worker's sys.path): about 0.2 s per task before the first batch.
    The decode kernel calls this when it finishes, so the next task's
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
    """Explicit Arrow schema for the payload parse: every known payload key
    (current + historical names) pinned to its parse type — string and
    timestamp stay strings (the format-checked `strptime` happens later, so
    lenient Arrow timestamp inference can't change semantics), integers
    parse as int64, floats and decimals as float64 (cast to the column type
    afterwards). Unknown keys fall back to inference."""
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


def _decode_batch_arrow(
    rb,
    table_fields: list[tuple[str, str]],
    renames: dict[str, list[str]],
    with_validity: bool,
    field_bits: dict[str, int] | None,
    out_arrow_schema,
):
    """Decode one Arrow RecordBatch entirely in Arrow compute kernels — no
    pandas conversion, no Python string materialization. table_fields =
    [(name, simple_type), ...] for the current schema version; renames maps
    a current column name to its historical names (old payloads carry
    those). Raises on any malformed or non-object payload: the caller then
    decodes the batch with `_decode_batch`, which isolates the bad rows.

    All payloads join into ONE ndjson buffer (`binary_join` over a
    single-cell list wrap — JSON strings cannot contain a raw newline) and
    parse in one `pyarrow.json` read; `_assemble` does the rest."""
    import pyarrow as pa
    import pyarrow.compute as pc

    payload = rb.column(rb.schema.get_field_index("payload"))
    nonnull = payload.drop_null()
    tab = None
    if len(nonnull):
        import pyarrow.json as pj

        # object-shaped payloads only: a top-level `null` row SEGFAULTS
        # pyarrow.json's explicit-schema reader (pyarrow 16.1), and
        # arrays/scalars are not change records — the fallback flags them
        if not pc.all(
            pc.starts_with(pc.utf8_ltrim_whitespace(nonnull), "{")
        ).as_py():
            raise ValueError("non-object payload")
        joined = pc.binary_join(
            pa.ListArray.from_arrays([0, len(nonnull)], nonnull), "\n"
        )
        # zero-copy handoff: BinaryScalar.as_buffer() views the join result's
        # data buffer directly — no Python str materialization of the batch.
        # Single-threaded on purpose: the executor already runs one Python
        # worker per core.
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
    return _assemble(
        rb, tab, pc.is_valid(payload), None,
        table_fields, renames, with_validity, field_bits, out_arrow_schema,
    )


def _decode_batch(
    rb,
    table_fields: list[tuple[str, str]],
    renames: dict[str, list[str]],
    with_validity: bool,
    field_bits: dict[str, int] | None,
    out_arrow_schema,
):
    """The row-isolation fallback for a batch `_decode_batch_arrow`
    rejects; same arguments and output. Each payload parses with
    `json.loads`. A payload that is not valid JSON, not a JSON object, or
    holds a value of the wrong type for its column gets an `_error` under
    with_validity (the ingest loop quarantines it, reference skip-vs-abort
    error handling — data_pipeline applier error paths + mailer, SURVEY.md
    §2 T11) and otherwise raises ValueError.
    The parsed rows then go through the kernel's own `_assemble`, so a
    decimal column takes the same float64 → decimal cast, and the two
    agree on every batch the kernel accepts."""
    import pyarrow as pa

    rows, parsed, errors = [], [], []
    for p in rb.column(rb.schema.get_field_index("payload")).to_pylist():
        err = None
        if p is not None:
            try:
                obj = json.loads(p)
            except (ValueError, RecursionError) as e:  # JSONDecodeError, deep nesting
                err = f"{type(e).__name__}: {e}"
            else:
                if not isinstance(obj, dict):
                    err = "payload is not a JSON object"
            if err is not None and not with_validity:
                raise ValueError(f"{err}: {p!r}")
            if err is None:
                rows.append(obj)
        parsed.append(p is not None and err is None)
        errors.append(err)
    schema = _arrow_payload_schema(table_fields, renames)
    try:
        tab = pa.Table.from_pylist(rows, schema=schema)
    except (pa.ArrowException, OverflowError):
        # a value of the wrong JSON type for its column ({"text": 5}): flag
        # (or raise) the rows that fail on their own, keep the rest
        at = [i for i, ok in enumerate(parsed) if ok]
        for i, row in zip(at, rows):
            try:
                pa.Table.from_pylist([row], schema=schema)
            except (pa.ArrowException, OverflowError) as e:
                if not with_validity:
                    raise ValueError(f"{type(e).__name__}: {e}: {row!r}") from e
                parsed[i], errors[i] = False, f"{type(e).__name__}: {e}"
        tab = pa.Table.from_pylist([r for i, r in zip(at, rows) if parsed[i]], schema=schema)
    return _assemble(
        rb, tab, pa.array(parsed, pa.bool_()), pa.array(errors, pa.string()),
        table_fields, renames, with_validity, field_bits, out_arrow_schema,
    )


def _assemble(
    rb,
    tab,
    parsed,
    errors,
    table_fields: list[tuple[str, str]],
    renames: dict[str, list[str]],
    with_validity: bool,
    field_bits: dict[str, int] | None,
    out_arrow_schema,
):
    """Build the output batch from the envelope `rb` and the parsed payload
    table `tab` (None when no row has a payload): row k of `tab` belongs to
    the k-th batch position where `parsed` is true. `errors` holds per-row
    parse errors, or None. Each step is one vectorized C++ kernel:

    - parsed rows scatter back to batch positions via `take` with a
      null-masked cumulative-sum index (unparsed rows get nulls);
    - renames coalesce, timestamps `strptime` (a bad value becomes null),
      numerics and decimals cast;
    - partial-image presence = parsed-value validity | key-regex match
      (`match_substring_regex`), folded into the `_set_mask` bitmask;
    - under with_validity, `_error` = missing payload for I/U, else missing
      merge key, else the parse error.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n = rb.num_rows
    payload = rb.column(rb.schema.get_field_index("payload"))
    valid_payload = pc.is_valid(payload)
    # batch position -> parsed row index (null where nothing was parsed)
    csum = pc.cumulative_sum(pc.cast(parsed, pa.int64()))
    idx = pc.if_else(parsed, pc.subtract(csum, 1), pa.nulls(n, pa.int64()))

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
            # the key-regex over the raw payload catches it (see
            # _presence_pattern for why it is sound).
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
        # computed mask) — a null condition in if_else would otherwise null
        # the output mask for that row.
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
            pc.if_else(pc.fill_null(missing_key, False), pa.scalar("missing merge key"),
                       errors if errors is not None else pa.nulls(n, pa.string())),
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
    (lsn, op, <table columns>) — plus (_payload, _error, _valid) when
    with_validity=True (malformed records flagged instead of failing the
    batch; the ingest loop quarantines them), and `_set_mask` when
    field_bits is given. Key columns come from the envelope and are cast
    to the current schema types (covers the turn_idx widen).

    One plan for every schema: `mapInArrow` + pure Arrow compute kernels —
    the batch never converts to pandas, strings never materialize as
    Python objects, so the Python worker's CPU share is several-fold
    smaller (this is what keeps N→4N scaling efficient: the decode stage
    doubles the process count, and its CPU footprint is what presses the
    host's SMT ceiling at 4N). A batch the kernel rejects is decoded by the
    row-isolation fallback `_decode_batch` instead, in the same task.
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
    # mapInArrow, so an unused envelope column (e.g. the
    # transport `ts`) would otherwise ride the Arrow IPC both ways.
    dml = raw.where(F.col("op") != "DDL").select(
        "lsn", "op", "conv_id", "turn_idx", "payload"
    )

    from pyspark.sql.pandas.types import to_arrow_schema

    out_arrow = to_arrow_schema(out_schema)
    args = (fields, renames, with_validity, field_bits, out_arrow)

    def afn(batches):
        try:
            for rb in batches:
                try:
                    yield _decode_batch_arrow(rb, *args)
                except Exception:  # noqa: BLE001 — the fallback isolates rows
                    yield _decode_batch(rb, *args)
        finally:
            _drop_zip_importers()

    return dml.mapInArrow(afn, schema=out_schema)


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
        # semantics as the Arrow kernel (see _presence_pattern)
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
