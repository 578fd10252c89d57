"""Spark N-Quads source/sink roundtrip, cross-checked with the pure parser."""

from __future__ import annotations

from pyld_spark.sources.nquads_io import read_nquads, write_nquads

from tests.ref_oracle import requires_reference

NQ = """\
<http://e/a> <http://e/p> "plain" .
<http://e/a> <http://e/p> "typed"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://e/a> <http://e/p> "tagged"@en-GB .
<http://e/a> <http://e/p> "esc \\"q\\" \\\\ \\t \\n done" .
_:b0 <http://e/q> <http://e/b> <http://e/graph1> .
_:b0 <http://e/q> _:b1 _:gn .
<http://e/a> <http://e/p> "plain" .
# comment line

this is garbage
"""


def test_read_nquads(spark, tmp_path):
    p = str(tmp_path / "in.nq")
    with open(p, "w") as f:
        f.write(NQ)
    df = read_nquads(spark, p).cache()
    good = df.filter("error_code is null")
    bad = df.filter("error_code is not null")
    assert bad.count() == 1
    rows = good.collect()
    assert len(rows) == 6  # duplicate "plain" line deduped
    by_obj = {r.obj_value: r for r in rows if r.obj_kind == "literal"}
    assert by_obj["typed"].obj_datatype.endswith("integer")
    assert by_obj["tagged"].obj_language == "en-GB"
    assert 'esc "q" \\ \t \n done' in by_obj
    graphs = {r.graph for r in rows}
    assert graphs == {"@default", "http://e/graph1", "_:gn"}


UNI_NQ = """\
<http://e/a> <http://e/p> "caf\\u00E9 \\U0001F600 ok" .
<http://e/a> <http://e/p> "not-an-escape \\\\u0041 kept" .
<http://e/a> <http://e/p> "odd \\\\\\u0042 b" .
<http://e/a> <http://e/p> "unknown \\z escape" .
_:trail. <http://e/p> "bnode cannot end with dot" .
"""


def test_read_nquads_unicode_escapes_match_pure_parser(spark, tmp_path):
    """The Spark reader and the driver-side parser decode one grammar:
    \\uXXXX/\\UXXXXXXXX (UDF path), escaped-backslash+u (JVM path), and the
    strict STRING_LITERAL_QUOTE body quarantines unknown escapes exactly
    like the bnode label grammar quarantines a trailing dot."""
    from pyld_spark.jsonld.nquads import unescape

    p = str(tmp_path / "uni.nq")
    with open(p, "w") as f:
        f.write(UNI_NQ)
    df = read_nquads(spark, p).cache()
    # trailing-dot bnode + unknown \z escape both quarantine
    assert df.filter("error_code is not null").count() == 2
    got = {r.obj_value for r in df.filter("error_code is null").collect()}
    expected = {
        unescape("caf\\u00E9 \\U0001F600 ok"),
        unescape("not-an-escape \\\\u0041 kept"),
        unescape("odd \\\\\\u0042 b"),
    }
    assert got == expected
    assert "café \U0001f600 ok" in got
    assert "not-an-escape \\u0041 kept" in got
    assert "odd \\B b" in got


def test_fuzzed_literals_spark_reader_matches_parser(spark, tmp_path):
    """Deterministic fuzz corpus of nasty literals (escapes, unicode,
    backslash runs) serialized by the pure writer, then read back by BOTH
    the Spark reader and the driver parser — one grammar, two engines."""
    from pyld_spark.jsonld.nquads import parse_nquads, serialize_quad

    nasties = [
        "plain", 'quo"te', "back\\slash", "tab\there", "nl\nline", "cr\rhere",
        "café", "\U0001f600", "mix \\\\u0041 \\u0042", "end\\",
        "\\u00e9 literal-escape-text", "a\tb\nc\\d\"e", "", " ",
        "\\U0001F600 text", "double\\\\back",
    ]
    quads = []
    for i, text in enumerate(nasties):
        quads.append((
            {"type": "IRI", "value": f"http://e/s{i}"},
            {"type": "IRI", "value": "http://e/p"},
            {"type": "literal", "value": text,
             "datatype": "http://www.w3.org/2001/XMLSchema#string"},
            "@default",
        ))
    doc = "".join(serialize_quad(q) for q in quads)
    p = str(tmp_path / "fuzz.nq")
    with open(p, "w") as f:
        f.write(doc)
    parsed_ref = {q[2]["value"] for q in parse_nquads(doc)}
    assert parsed_ref == set(nasties)  # writer→parser roundtrip exact
    df = read_nquads(spark, p)
    assert df.filter("error_code is not null").count() == 0
    got = {r.obj_value for r in df.collect()}
    assert got == parsed_ref


def test_roundtrip_matches_pure_parser(spark, tmp_path):
    from pyld_spark.jsonld.nquads import parse_nquads, serialize_quads

    p_in = str(tmp_path / "in2.nq")
    clean = "\n".join(
        ln for ln in NQ.split("\n") if ln and not ln.startswith(("#", "this"))
    ) + "\n"
    with open(p_in, "w") as f:
        f.write(clean)
    df = read_nquads(spark, p_in).filter("error_code is null").drop("error_code")
    out_dir = str(tmp_path / "out_nq")
    write_nquads(df, out_dir, sort_globally=True)
    import glob

    written = "".join(
        open(f).read() for f in sorted(glob.glob(out_dir + "/part-*"))
    )
    expected = serialize_quads(parse_nquads(clean))
    assert written.strip().split("\n") == expected.strip().split("\n")


def test_parse_nquads_rejects_unknown_escape():
    """Spec-strict STRING_LITERAL_QUOTE: \\q is not an ECHAR/UCHAR, so the
    driver parser rejects the line (the reference parser instead keeps the
    two raw chars — documented divergence, same class as its \\uXXXX
    non-decoding)."""
    import pytest

    from pyld_spark.jsonld.nquads import parse_nquads

    with pytest.raises(ValueError, match="invalid N-Quads line"):
        parse_nquads('<http://e/s> <http://e/p> "bad\\qesc" .\n')
    # all valid ECHARs and UCHARs still parse
    quads = parse_nquads(
        '<http://e/s> <http://e/p> "\\t\\b\\n\\r\\f\\"\\\'\\\\\\u00E9\\U0001D11E" .\n'
    )
    assert quads[0][2]["value"] == "\t\b\n\r\f\"'\\é\U0001D11E"


@requires_reference
def test_reference_dataset_dialect_functions():
    # the public api layer speaks the reference's dataset-dict dialect:
    # parse_nquads_dataset / serialize_nquads / serialize_nquad mirror the
    # reference module functions byte-for-byte, normalize without a format
    # returns the re-parsed dict, and a user-registered reference-style
    # parser (returning the dict shape) flows through from_rdf
    import json

    from pyld_spark.jsonld import api
    from tests.ref_oracle import get_reference_jsonld

    ref = get_reference_jsonld()
    nq = ('_:a <http://e/p> "x\\ty"@en-us .\n'
          '<http://e/s> <http://e/p> "1"^^'
          '<http://www.w3.org/2001/XMLSchema#integer> <http://e/g> .\n')
    ds_ref = ref.parse_nquads(nq)
    ds_my = api.parse_nquads_dataset(nq)
    assert json.dumps(ds_my, sort_keys=True) == json.dumps(ds_ref, sort_keys=True)
    assert api.parse_nquads_dataset("") == {}
    assert api.serialize_nquads(ds_my) == ref.serialize_nquads(
        json.loads(json.dumps(ds_ref)))
    doc = {"@id": "http://e/s", "http://e/p": [{"@id": "_:b"}, "v"]}
    r = ref.normalize(json.loads(json.dumps(doc)), {"algorithm": "URDNA2015"})
    m = api.normalize(json.loads(json.dumps(doc)), {"algorithm": "URDNA2015"})
    assert json.dumps(m, sort_keys=True) == json.dumps(r, sort_keys=True)
    api.register_rdf_parser("application/x-ref-style", ref.parse_nquads)
    try:
        out = api.from_rdf(nq, {"format": "application/x-ref-style"})
        assert out == ref.from_rdf(nq, {"format": "application/n-quads"})
    finally:
        api.unregister_rdf_parser("application/x-ref-style")
