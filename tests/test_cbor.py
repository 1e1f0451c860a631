"""CBOR codec tests — byte-exact roundtrips on the reference's own vectors
(test/vectors/binary_data.csv: 100 real Plutus datums; scripts.csv: 10 real
scripts) plus hypothesis roundtrip properties and the Mary-era Value codec
(Database.hs:196)."""

from __future__ import annotations

from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kupo_spark import cbor

VECTORS = "/root/reference/test/vectors"


def _vectors(name):
    """The vector rows of ``name``, or one skipped param naming the missing
    file when kupo's reference checkout is not present."""
    path = Path(VECTORS) / name
    if not path.exists():
        skip = pytest.mark.skip(reason=f"reference vectors not available: {path}")
        return [pytest.param(None, marks=skip)]
    with open(path) as f:
        return [line.strip() for line in f if line.strip()]


@pytest.mark.parametrize("hexstr", _vectors("binary_data.csv"))
def test_binary_data_vector_roundtrip(hexstr):
    raw = bytes.fromhex(hexstr)
    node = cbor.decode(raw)
    assert cbor.encode(node) == raw  # original-bytes fidelity
    cbor.to_plain(node)  # projects without error
    cbor.to_diagnostic(node)


@pytest.mark.parametrize("hexstr", _vectors("scripts.csv"))
def test_script_vector_roundtrip(hexstr):
    # scripts.csv rows are tag ‖ payload (Script.hs serialization); the
    # payload of tagged native/plutus scripts is itself CBOR
    raw = bytes.fromhex(hexstr)[1:]
    node = cbor.decode(raw)
    assert cbor.encode(node) == raw


# -- hypothesis: canonical encode/decode roundtrip --------------------------

plain = st.recursive(
    st.integers(min_value=-(2**63), max_value=2**64 - 1)
    | st.binary(max_size=40)
    | st.text(max_size=20),
    lambda children: st.lists(children, max_size=4)
    | st.lists(st.tuples(children, children), max_size=3).map(tuple),
    max_leaves=20,
)


def _to_node(v):
    if isinstance(v, bool):
        raise AssertionError
    if isinstance(v, int):
        return cbor.mk_uint(v) if v >= 0 else cbor.mk_nint(v)
    if isinstance(v, bytes):
        return cbor.mk_bytes(v)
    if isinstance(v, str):
        return cbor.mk_text(v)
    if isinstance(v, list):
        return cbor.mk_array([_to_node(i) for i in v])
    if isinstance(v, tuple):  # map as pair list
        return cbor.mk_map([(_to_node(k), _to_node(val)) for k, val in v])
    raise AssertionError(type(v))


def _normalize(v):
    if isinstance(v, tuple):
        return [( _normalize(k), _normalize(val)) for k, val in v]
    if isinstance(v, list):
        return [_normalize(i) for i in v]
    return v


@settings(max_examples=200, deadline=None)
@given(plain)
def test_encode_decode_roundtrip(value):
    node = _to_node(value)
    raw = cbor.encode(node)
    back = cbor.decode(raw)
    assert cbor.encode(back) == raw
    assert cbor.to_plain(back) == _normalize(value)


def test_special_items():
    # floats, simples, tags, indefinite strings — RFC 8949 appendix A shapes
    for hexstr, plain_val in [
        ("f90000", 0.0),
        ("fb3ff199999999999a", 1.1),
        ("f4", False),
        ("f5", True),
        ("f6", None),
        ("c11a514b67b0", ("tag", 1, 1363896240)),
        ("5f42010243030405ff", b"\x01\x02\x03\x04\x05"),
        ("9f018202039f0405ffff", [1, [2, 3], [4, 5]]),
    ]:
        raw = bytes.fromhex(hexstr)
        node = cbor.decode(raw)
        assert cbor.encode(node) == raw
        assert cbor.to_plain(node) == plain_val


def test_malformed_rejected():
    for bad in ["18", "5f00ff", "a1", "1c", "00ff", "9f"]:
        with pytest.raises(cbor.CborError):
            cbor.decode(bytes.fromhex(bad))


# -- Mary-era Value codec ---------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**63 - 1),
    st.dictionaries(
        st.binary(min_size=28, max_size=28),
        st.dictionaries(
            st.binary(max_size=32), st.integers(min_value=1, max_value=2**63 - 1),
            min_size=1, max_size=3,
        ),
        max_size=3,
    ),
)
def test_mary_value_roundtrip(coins, assets):
    raw = cbor.encode_mary_value(coins, assets)
    assert cbor.decode_mary_value(raw) == (coins, assets)


def test_mary_value_ada_only_is_bare_uint():
    # value = coin / [coin, multiasset] — ADA-only collapses to the scalar
    assert cbor.encode_mary_value(42, {}) == bytes.fromhex("182a")
    assert cbor.decode_mary_value(bytes.fromhex("182a")) == (42, {})


def test_mary_value_deterministic_key_order():
    a = {b"\x02" * 28: {b"b": 1}, b"\x01" * 28: {b"a": 2, b"": 3}}
    raw1 = cbor.encode_mary_value(5, a)
    raw2 = cbor.encode_mary_value(5, dict(reversed(list(a.items()))))
    assert raw1 == raw2  # bytewise-sorted maps, insertion order irrelevant


# -- Spark kernels ----------------------------------------------------------


def test_value_cbor_columns_roundtrip(spark, index):
    from kupo_spark.functions.cborops import mary_value_decoded, with_value_cbor

    inputs = index.inputs.select("output_reference", "coins", "assets").limit(200)
    packed = with_value_cbor(inputs)
    back = packed.select(
        "output_reference",
        "coins",
        "assets",
        mary_value_decoded("value_cbor").alias("d"),
    )
    mismatches = back.where(
        "coins != d.coins OR size(map_keys(assets)) != size(map_keys(d.assets))"
    )
    assert mismatches.count() == 0
    # spot-check full asset-map equality driver-side on a sample
    for row in back.limit(20).collect():
        assert row.coins == row.d.coins
        assert dict(row.assets or {}) == {
            k: dict(v) for k, v in (row.d.assets or {}).items()
        }


def test_diagnostic_kernel(spark):
    import pandas as pd

    from kupo_spark.functions.cborops import cbor_diagnostic

    df = spark.createDataFrame(
        pd.DataFrame({"b": [bytes.fromhex("9f0102ff"), bytes.fromhex("a1616142ffee")]})
    )
    out = [r[0] for r in df.select(cbor_diagnostic("b")).collect()]
    assert out[0] == "[_ 1, 2]"
    assert out[1] == '{"a": h\'ffee\'}'


def test_chain_datum_payloads_are_real_plutus_cbor(spark, blocks):
    """Every synthetic datum payload decodes as tag-121 (constructor 0)
    Plutus data; equal hashes carry equal bytes (content-addressing)."""
    rows = (
        blocks.selectExpr("explode(outputs) o")
        .where("o.datum_cbor IS NOT NULL")
        .selectExpr("o.datum_hash h", "o.datum_cbor c")
        .distinct()
        .collect()
    )
    assert rows
    by_hash = {}
    for r in rows:
        node = cbor.decode(bytes.fromhex(r.c))
        assert node[0] == "tag" and node[2][0] == 121
        inner = node[2][1]
        assert inner[0] == "array" and len(inner[2]) == 2
        assert by_hash.setdefault(r.h, r.c) == r.c
    # hashes are content-addressed: 211 residue classes at most
    assert len(by_hash) <= 211


def test_chain_script_payloads_are_language_tagged_cbor(spark, blocks):
    rows = (
        blocks.selectExpr("explode(outputs) o")
        .where("o.script_cbor IS NOT NULL")
        .selectExpr("o.script_cbor c")
        .distinct()
        .collect()
    )
    assert rows
    for r in rows:
        raw = bytes.fromhex(r.c)
        assert raw[0] == 0x02  # plutus:v2 language tag
        node = cbor.decode(raw[1:])
        assert node[0] == "bytes" and len(node[2]) == 4


def test_strict_rejects_non_wellformed_simple_and_utf8():
    """RFC 8949 §3.3: two-byte simple values 0-31 are not well-formed;
    invalid UTF-8 in a text string surfaces as CborError (the module's
    malformed-input signal), never UnicodeDecodeError."""
    import pytest as _pytest

    from kupo_spark import cbor as C

    with _pytest.raises(C.CborError):
        C.decode(b"\xf8\x14")
    with _pytest.raises(C.CborError):
        C.decode(bytes([0x61, 0xFF]))
    # the one-byte encodings and >=32 two-byte values still decode
    assert C.to_plain(C.decode(b"\xf5")) is True
    assert C.to_plain(C.decode(b"\xf8\x20")) == ("simple", 32)
