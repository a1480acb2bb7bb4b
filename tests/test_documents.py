"""Golden tests for the document pipeline: Flatten/Split quirks from
server/format.go, upload prefixing from server/upload.go:117-132, and the
deterministic embedder. The expected strings below encode the reference's
exact behavior (including its separator and double-space quirks) — do not
'fix' them."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_vectorsearch_spark.operators.documents import (
    NOOP_DIM,
    doc_name_prefix,
    flatten,
    noop_embed,
    noop_embed_codes,
    noop_embed_text,
    prepare_chunks,
    split_text,
)

# ---------------------------------------------------------------------------
# Flatten (server/format.go:17-89)
# ---------------------------------------------------------------------------


def test_flatten_scalars():
    assert flatten(None) == "null."
    assert flatten(True) == "true."
    assert flatten(False) == "false."
    assert flatten("hello") == "hello."
    assert flatten("ends.") == "ends."


def test_flatten_string_cleanup():
    # \r stripped, \n\n+ collapsed, trimmed, trailing '.' ensured
    assert flatten("  a\r\n\n\nb  ") == "a\nb."


def test_flatten_float_is_float32_shortest():
    assert flatten(0.1) == "0.1"
    assert flatten(3.0) == "3"
    assert flatten(1.5) == "1.5"
    # 1/3 printed as the shortest decimal that round-trips float32
    assert flatten(1 / 3) == "0.33333334"


def test_flatten_array_joins_lines():
    assert flatten(["a", "b"]) == "a.\nb."


def test_flatten_map_separator_quirk():
    # last line of each value gets NO newline before the next key
    assert flatten({"a": "x", "b": "y"}) == "a: x.b: y."
    assert flatten({"a": ["l1", "l2"], "b": "y"}) == "a: l1.\na: l2.b: y."
    # last key never gets trailing newlines even for multi-line values
    assert flatten({"z": ["l1", "l2"]}) == "z: l1.z: l2."


# ---------------------------------------------------------------------------
# Split (server/format.go:91-108): budget ((ctx*9)/10)/4, greedy packing
# ---------------------------------------------------------------------------


def test_split_single_chunk():
    # ctx 44 -> max_words (44*9//10)//4 = 9
    out = split_text("p. ", "one two three\nfour five", 44)
    assert out == ["p.  one two three four five"]


def test_split_greedy_packing():
    # ctx 64 -> max_words 14; two 8-word lines cannot share a chunk
    l8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    out = split_text("p. ", f"{l8}\n{l8}", 64)
    assert out == [f"p.  {l8}", f"p.  {l8}"]


def test_split_overbudget_first_line_emits_prefix_only_chunk():
    words = " ".join(f"w{i}" for i in range(20))
    out = split_text("p. ", words, 64)
    assert out == ["p. ", f"p.  {words}"]


def test_split_empty_prefix_no_phantom_chunk():
    words = " ".join(f"w{i}" for i in range(20))
    assert split_text("", words, 64) == [f" {words}"]


def test_doc_name_prefix():
    assert doc_name_prefix("") == ""
    assert doc_name_prefix(" My Doc. ") == "My Doc. "
    assert doc_name_prefix("My Doc") == "My Doc. "


# ---------------------------------------------------------------------------
# DataFrame plumbing + embedder
# ---------------------------------------------------------------------------


def test_prepare_chunks(spark):
    docs = spark.createDataFrame(
        [(1, "Guide", '{"a": "x", "b": "y"}'), (2, "", '"plain text"')],
        "doc_id long, name string, payload_json string",
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): r["chunk"]
        for r in prepare_chunks(docs, ctx_num=2048).collect()
    }
    assert rows[(1, 0)] == "search_document: Guide.  a: x.b: y."
    assert rows[(2, 0)] == "search_document:  plain text."


def test_noop_embed_deterministic_and_bounded(spark):
    df = spark.createDataFrame([("alpha",), ("beta",)], "text string")
    out = df.select(
        noop_embed_codes(F.col("text")).alias("codes"),
        noop_embed(F.col("text")).alias("emb"),
    ).collect()
    for r in out:
        assert len(r["codes"]) == NOOP_DIM
        assert all(0 <= c <= 255 for c in r["codes"])
        assert all(-1.0 <= v <= 1.0 for v in r["emb"])
    again = df.select(noop_embed_codes(F.col("text")).alias("codes")).collect()
    assert [r["codes"] for r in again] == [r["codes"] for r in out]
    # different seed -> different stream
    seeded = df.select(noop_embed_codes(F.col("text"), seed=7).alias("codes")).collect()
    assert [r["codes"] for r in seeded] != [r["codes"] for r in out]


def test_noop_embed_matches_reference_dequant(spark):
    # code c dequantizes to -1 + c/255*2, the noop provider's fixed range
    df = spark.createDataFrame([("x",)], "text string")
    r = df.select(
        noop_embed_codes(F.col("text")).alias("c"), noop_embed(F.col("text")).alias("e")
    ).head()
    for c, e in zip(r["c"], r["e"]):
        assert abs(e - (-1.0 + c / 255.0 * 2.0)) < 1e-6


def test_noop_embed_text_equals_expression(spark):
    """The driver-side twin the serving path embeds queries with is the
    Column expression's output exactly, element for element."""
    texts = [
        "search_query: plain ascii",
        "search_query: ünïcødé 東京 ☃ 🚀",
        "",
        "a:b::c:",
        "long " * 500,  # 2,500 characters
    ]
    assert len(texts[-1]) > 2048
    combos = [(dim, seed) for dim in (64, 512) for seed in (0, 7)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    rows = df.select(
        "i",
        *[
            noop_embed(F.col("t"), dim=dim, seed=seed).alias(f"e{dim}_{seed}")
            for dim, seed in combos
        ],
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        for dim, seed in combos:
            want = r[f"e{dim}_{seed}"]
            got = noop_embed_text(texts[r["i"]], dim=dim, seed=seed)
            assert len(got) == dim
            assert got == want, (r["i"], dim, seed)
