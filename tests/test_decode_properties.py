"""Property tests for the Arrow decode kernel and its row-isolation
fallback (`functions/decode.py`).

Wherever the Arrow kernel accepts a batch, it and the fallback must be
value-identical on ANY payload soup — unicode, escaped
quotes/newlines/backslashes, explicit nulls vs absent keys (the
`_set_mask` distinction), missing payloads. Malformed and non-object JSON
makes the kernel reject the whole batch; the fallback then isolates the
bad rows. Runs at the kernel level (no Spark) for speed; the Spark-level
equality is tests/test_replay_e2e.py.
"""

from __future__ import annotations

import json

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from data_pipeline_spark.functions.decode import (
    _decode_batch,
    _decode_batch_arrow,
)
from data_pipeline_spark.schemas import decoded_schema

FIELDS = [
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "timestamp"),
]
BITS = {"role": 3, "text": 4, "tool": 5, "ts": 6}
OUT_ARROW = to_arrow_schema(T.StructType(
    decoded_schema(T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])).fields
    + [T.StructField("_set_mask", T.LongType()),
       T.StructField("_payload", T.StringType()),
       T.StructField("_error", T.StringType()),
       T.StructField("_valid", T.BooleanType(), False)]
))

# text values that stress JSON string framing: quotes, backslashes, raw
# unicode, escape sequences that decode to newlines/quotes
text_values = st.one_of(
    st.text(max_size=20),
    st.sampled_from(
        ['say "tool" now', "back\\slash", "line\nbreak", "tab\there",
         "ünïcødé ✓", '{"nested": "json"}', "", "tool",
         'trailing backslash \\', "quote\"inside"]
    ),
)

payload_entries = st.fixed_dictionaries(
    {},
    optional={
        "role": st.one_of(st.none(), st.sampled_from(["user", "assistant", "tool"])),
        "text": st.one_of(st.none(), text_values),
        "tool": st.one_of(st.none(), text_values),
        "ts": st.one_of(
            st.none(),
            st.sampled_from(["2026-01-02T03:04:05", "not a timestamp", "2026-13-45T99:99:99"]),
        ),
    },
)

rows = st.lists(
    st.tuples(
        st.sampled_from(["I", "U", "D"]),
        st.one_of(
            st.none(),                                   # missing payload
            payload_entries.map(json.dumps),             # valid JSON
            st.sampled_from(['{broken', '', 'null', '[]', '"str"']),  # malformed-ish
        ),
    ),
    min_size=1,
    max_size=30,
)


def _envelope(op_payloads) -> pa.RecordBatch:
    n = len(op_payloads)
    return pa.RecordBatch.from_pydict({
        "lsn": pa.array(range(1, n + 1), pa.int64()),
        "op": pa.array([op for op, _ in op_payloads], pa.string()),
        "conv_id": pa.array([f"c{i % 3}" for i in range(n)], pa.string()),
        "turn_idx": pa.array([i % 5 for i in range(n)], pa.int32()),
        "payload": pa.array([p for _, p in op_payloads], pa.string()),
    })


def _fallback(rb) -> pd.DataFrame:
    return _decode_batch(rb, FIELDS, {}, True, BITS, OUT_ARROW).to_pandas()


@settings(max_examples=120, deadline=None)
@given(op_payloads=rows)
def test_arrow_kernel_agrees_with_row_fallback(op_payloads):
    """Where the Arrow kernel accepts a batch, its full decode (validity
    flags AND the partial-image `_set_mask`) must equal the row-isolation
    fallback's value-for-value. Where it rejects one, the fallback is the
    decode, so its invariants must hold on every soup."""
    rb = _envelope(op_payloads)
    via_rows = _fallback(rb)
    try:
        via_arrow = _decode_batch_arrow(rb, FIELDS, {}, True, BITS, OUT_ARROW).to_pandas()
    except Exception:  # noqa: BLE001 — rejected batches take the fallback
        via_arrow = None
    if via_arrow is not None:
        pd.testing.assert_frame_equal(via_arrow, via_rows)

    # the fallback's own invariants hold on this soup
    assert (via_rows["_valid"] | via_rows["_error"].notna()).all()
    d_rows = via_rows["op"] == "D"
    assert (via_rows.loc[d_rows, "_set_mask"] == 0).all()
    i_rows = via_rows["op"] == "I"
    assert (via_rows.loc[i_rows, "_set_mask"] == -1).all()
    # a payload json.loads rejects, or one that is not an object, is flagged
    for i, (_, p) in enumerate(op_payloads):
        if p is None:
            continue
        try:
            ok = isinstance(json.loads(p), dict)
        except ValueError:
            ok = False
        if not ok:
            assert not via_rows.loc[i, "_valid"], (p, via_rows.loc[i, "_error"])


def test_fallback_raises_on_first_bad_row_without_validity():
    rb = _envelope([("I", '{"text": "ok"}'), ("U", "{broken"), ("I", "null")])
    with pytest.raises(ValueError, match="broken"):
        _decode_batch(rb, FIELDS, {}, False, None, OUT_ARROW)


def test_fallback_quarantines_only_the_wrong_typed_row():
    """Well-formed JSON whose value has the wrong type for its column
    fails the batch's Arrow conversion; the fallback flags that row alone
    and decodes its neighbour."""
    rb = _envelope([("I", '{"text": "ok", "role": "user"}'), ("I", '{"text": 5}')])
    out = _fallback(rb)
    assert list(out["_valid"]) == [True, False]
    assert (out.loc[0, "text"], out.loc[0, "role"]) == ("ok", "user")
    assert "ArrowTypeError" in out.loc[1, "_error"]
    with pytest.raises(ValueError, match="ArrowTypeError"):
        _decode_batch(rb, FIELDS, {}, False, None, OUT_ARROW)


@settings(max_examples=60, deadline=None)
@given(op_payloads=rows)
def test_explicit_null_vs_absent_mask(op_payloads):
    """For U rows with valid JSON payloads: a field's mask bit is set iff
    the key APPEARS in the payload (even as explicit null), never when the
    key is absent — recomputed here independently from the raw JSON."""
    out = _fallback(_envelope(op_payloads))
    for i, (op, payload) in enumerate(op_payloads):
        if op != "U" or payload is None:
            continue
        try:
            obj = json.loads(payload)
        except ValueError:
            continue
        if not isinstance(obj, dict):
            continue
        mask = int(out.loc[i, "_set_mask"])
        for name, bit in BITS.items():
            expected = name in obj
            assert bool(mask & (1 << bit)) == expected, (
                f"row {i} field {name}: payload={payload!r} mask={mask}"
            )
