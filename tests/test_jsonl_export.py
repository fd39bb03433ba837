"""JSONL export/read sink: the standard training-data delivery format
(one JSON object per line, optionally compressed shards)."""

import glob
import gzip
import json

from html_to_document_spark.sources.tables import export_jsonl, read_jsonl


def _read_lines(path):
    lines = []
    for f in sorted(glob.glob(f"{path}/part-*")):
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt", encoding="utf-8") as fh:
            lines += [json.loads(l) for l in fh if l.strip()]
    return lines


def test_export_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("d0", "plain ascii", "en", 0.9),
            ("d1", 'quotes " and \\ backslash', "en", 0.5),
            ("d2", "composed café Å", "fr", 0.7),
            ("d3", "newline\ninside", "de", 0.1),
            ("d4", "no language", None, 0.3),
        ],
        "doc_id string, text string, lang string, quality double",
    )
    out = str(tmp_path / "jsonl")
    export_jsonl(df, out, meta_cols=("lang", "quality"))
    rows = {r["id"]: r for r in _read_lines(out)}
    assert set(rows) == {"d0", "d1", "d2", "d3", "d4"}
    assert rows["d1"]["text"] == 'quotes " and \\ backslash'
    assert rows["d2"]["text"] == "composed café Å"
    assert rows["d3"]["text"] == "newline\ninside"  # escaped, one line
    assert rows["d0"]["lang"] == "en" and rows["d0"]["quality"] == 0.9
    # key order is the documented struct order
    first = _read_lines(out)[0]
    assert list(first.keys()) == ["id", "text", "lang", "quality"]
    # a NULL meta field is written as null, never dropped
    assert list(rows["d4"].keys()) == ["id", "text", "lang", "quality"]
    assert rows["d4"]["lang"] is None


def test_export_jsonl_sharding_and_gzip(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"d{i}", f"text {i}") for i in range(40)],
        "doc_id string, text string",
    )
    out = str(tmp_path / "gz")
    export_jsonl(df, out, compression="gzip", num_shards=4)
    parts = glob.glob(f"{out}/part-*.gz")
    assert len(parts) == 4
    rows = _read_lines(out)
    assert {r["id"] for r in rows} == {f"d{i}" for i in range(40)}


def test_read_jsonl_with_schema_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "x", 3), ("b", "y", 4)],
        "doc_id string, text string, n int",
    )
    out = str(tmp_path / "rt")
    export_jsonl(df, out, meta_cols=("n",))
    back = read_jsonl(spark, out, schema="id string, text string, n int")
    got = {(r["id"], r["text"], r["n"]) for r in back.collect()}
    assert got == {("a", "x", 3), ("b", "y", 4)}
