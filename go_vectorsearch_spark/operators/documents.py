"""Document ingest pipeline: Flatten / Split / task prefixes / embedder.

Faithful re-expression of the reference's text preparation
(server/format.go:17-108, server/upload.go:117-132, server/search.go:129)
plus a deterministic stand-in for the external embedding model
(noop/ai.go:47-64) that is *seedable per text* instead of consuming a
process-global RNG stream — a distributed engine cannot reproduce a
sequential RNG, so determinism comes from hashing the text itself.

Flatten/Split are genuinely recursive/sequential-greedy and run once per
document at ingest (not in any query hot path), so they are plain Python
applied through Arrow-batched pandas UDFs — the documented slow path.
The embedder, in contrast, is a pure column expression (md5-block codes)
so embedding generation stays JVM-side and scales with the scan; a
bit-exact pure-Python twin embeds single query strings on the driver.

Quirks of the reference reproduced on purpose (and locked by golden
tests in tests/test_documents.py):

* ``Flatten`` of a map concatenates "key: value" lines WITHOUT a
  separator after the last line of each value unless the value is
  multi-line and the key is not last (server/format.go:77-87) — i.e.
  {"a": "x", "b": "y"} flattens to ``a: x.b: y.``.
* ``Flatten`` of float64 formats via shortest round-trip *float32*
  fixed-point notation (server/format.go:48-50).
* ``Split``'s word budget is ``((ctx_num * 9) / 10) / 4`` (integer
  division) and an over-budget first sentence emits a prefix-only chunk
  before it (server/format.go:91-108).
* Upload chunk prefix = document name, trimmed, trailing '.' removed,
  plus ". "; every chunk then gets "search_document: "; queries get
  "search_query: " (server/upload.go:121-128, server/search.go:129).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

_EXCESS_NEWLINES = re.compile(r"\n\n+")

SEARCH_DOCUMENT_PREFIX = "search_document: "
SEARCH_QUERY_PREFIX = "search_query: "


# ---------------------------------------------------------------------------
# X1 Flatten (server/format.go:17-89)
# ---------------------------------------------------------------------------


def _format_string(value: str) -> str:
    value = value.replace("\r", "")
    value = _EXCESS_NEWLINES.sub("\n", value)
    value = value.strip()
    value = value.removesuffix("\n")
    if not value.endswith("."):
        value += "."
    return value


def _flatten_float(value: float) -> str:
    # shortest fixed-point decimal that round-trips through float32
    return np.format_float_positional(
        np.float32(value), unique=True, trim="-"
    )


def flatten(data) -> str:
    """Canonical text of a JSON value (reference Flatten semantics)."""
    if data is None:
        return "null."
    if isinstance(data, bool):  # before float: bool is not a JSON number
        return "true." if data else "false."
    if isinstance(data, str):
        return _format_string(data)
    if isinstance(data, (int, float)):
        return _flatten_float(float(data))
    if isinstance(data, list):
        return "\n".join(flatten(item) for item in data)
    if isinstance(data, dict):
        keys = sorted(data.keys())
        out: list[str] = []
        for idx, key in enumerate(keys):
            lines = flatten(data[key]).split("\n")
            for jdx, line in enumerate(lines):
                sep = "\n" if (jdx != len(lines) - 1 and idx != len(keys) - 1) else ""
                out.append(f"{key}: {line}{sep}")
        return "".join(out)
    return str(data)


# ---------------------------------------------------------------------------
# X2 Split (server/format.go:91-108)
# ---------------------------------------------------------------------------


def split_text(prefix: str, text: str, ctx_num: int) -> list[str]:
    """Greedy line-packing chunker with the reference's exact semantics."""
    max_words = ((ctx_num * 9) // 10) // 4
    chunks: list[str] = []
    current = prefix
    current_words = 0
    for sentence in text.split("\n"):
        n_words = len(sentence.split())
        if n_words + current_words > max_words and current != "":
            chunks.append(current)
            current = prefix
            current_words = 0
        current = f"{current} {sentence}"
        current_words += n_words
    chunks.append(current)
    return chunks


def doc_name_prefix(name: str) -> str:
    """Upload chunk prefix from the document name (server/upload.go:121-124)."""
    if not name:
        return ""
    return name.strip().removesuffix(".") + ". "


# ---------------------------------------------------------------------------
# DataFrame wrappers (Arrow-batched pandas UDFs; ingest path only)
# ---------------------------------------------------------------------------


@F.pandas_udf(StringType())
def flatten_json_udf(payload: pd.Series) -> pd.Series:
    """Flatten a JSON-string column (parse + reference Flatten)."""
    import json

    return payload.map(lambda s: flatten(json.loads(s)) if s is not None else "null.")


@F.pandas_udf(StringType())
def format_text_udf(text: pd.Series) -> pd.Series:
    """Apply the reference's string normalization (:func:`_format_string`:
    CR-strip, newline collapse, trim, trailing period) to a plain-text
    column. The substring-cut write path normalizes a CUT document's
    cleaned text with this BEFORE storage, so flatten(new payload)
    round-trips to exactly the stored text — without it, a cut that
    removes the document's final period-bearing token stores a text
    flatten re-normalizes on every later read (change detection would
    then see a phantom diff on the next pass). Idempotent on its own
    output."""
    return text.map(lambda s: _format_string(s) if s is not None else "")


def format_rejoined_text(text: Column) -> Column:
    """Pure-expression restatement of :func:`_format_string` for
    token-REJOINED text — the shape the substring-cut rebuild produces
    (``concat_ws(" ", tokens)`` over ``\\s+``-split tokens): no CR, no
    LF, no leading/trailing ASCII whitespace by construction, so the
    CR-strip / newline-collapse / trim steps are no-ops and only the
    ensure-trailing-period step remains (including '' -> '.', matching
    ``_format_string("")``).

    Exists so the cut fixpoint can normalize each pass's rebuilt text
    WITHOUT a pandas UDF: a ``when()`` branch around a Python UDF still
    evaluates the UDF for every row (Python UDFs are extracted into an
    unconditional ArrowEvalPython projection), which would add a full
    Arrow round-trip of the corpus text per fixpoint pass. Exactly
    :func:`format_text_udf` on rejoined input for ASCII-whitespace text;
    a token carrying exotic unicode whitespace (which Java's ``\\s``
    tokenizer does not split and Python's ``strip()`` would remove) is
    the documented residue — absent from flatten output in practice,
    and the storage write still applies the UDF as the final truth."""
    return F.when(text.endswith("."), text).otherwise(
        F.concat(text, F.lit("."))
    )


def _format_rejoined_string(value: str) -> str:
    """Scalar twin of :func:`format_rejoined_text` (period-append only,
    including ``'' -> '.'``) — what the substring fixpoint's adaptive
    driver-local path applies where the distributed loop applies the
    expression form (the ``normalize_py`` contract)."""
    return value if value.endswith(".") else value + "."


#: What the storage normalization makes of an empty document —
#: ``_format_string("") == "."`` — shared by every consumer that must
#: recognize (and freeze / exclude) empty-document markers so the two
#: sides can never silently desync (r11 advice: boilerplate_report
#: hard-coded the literal while the cut fixpoint derived it from its
#: normalize hook).
EMPTY_DOC_MARKER = _format_string("")


def format_multiline_text(text: Column) -> Column:
    """Pure-expression restatement of the FULL :func:`_format_string`
    for line-REJOINED text — the shape the boilerplate-line strip
    rebuild produces (``'\\n'.join(surviving lines)``). Unlike the
    token-rejoined case (:func:`format_rejoined_text`), cutting lines
    CAN leave the edges _format_string would clean: stored texts may
    carry empty lines (``flatten`` emits one for an empty-list /
    empty-dict item inside a JSON list — ``["a", [], "x"]`` flattens to
    ``"a.\\n\\nx."``), and cutting a document's last line leaves a
    trailing ``"\\n"`` that period-append alone would turn into a
    phantom standalone ``'.'`` line (``"a.\\n" -> "a.\\n."``) the real
    storage write (:func:`format_text_udf`) never produces. So all of
    _format_string runs here, in its exact order: CR-strip (dict KEYS
    can smuggle a CR into flatten output), ``\\n\\n+`` collapse,
    whitespace trim, ensure-trailing-period (including ``'' -> '.'``).

    Same Java-``\\s``-vs-Python-``strip()`` unicode-whitespace residue
    as :func:`format_rejoined_text` documents — absent from flatten
    output in practice, and the storage write still applies the UDF as
    the final truth."""
    t = F.regexp_replace(text, "\r", "")
    t = F.regexp_replace(t, "\n\n+", "\n")
    t = F.regexp_replace(t, r"^\s+|\s+$", "")
    return F.when(t.endswith("."), t).otherwise(F.concat(t, F.lit(".")))


def _format_multiline_string(value: str) -> str:
    """Scalar twin of :func:`format_multiline_text` — the EXPRESSION,
    not of :func:`_format_string`: the expression's edge trim is
    Java-``\\s`` (ASCII class), while ``_format_string``'s ``.strip()``
    removes Unicode whitespace (NBSP etc.), so using the storage UDF as
    the fixpoint's local-path normalize would make the same corpus
    clean differently depending on whether it fit the driver budget
    (r13 self-review). This is the ``normalize_py`` the Engine and the
    registry entry pass; parity with the expression is pytest-pinned
    including non-ASCII-whitespace edges."""
    import re

    value = value.replace("\r", "")
    value = re.sub(r"\n\n+", "\n", value)
    value = re.sub(r"^\s+|\s+$", "", value, flags=re.ASCII)
    return value if value.endswith(".") else value + "."


@F.pandas_udf(StringType())
def json_string_udf(text: pd.Series) -> pd.Series:
    """Encode a plain-text column as its JSON string literal — the
    inverse direction of :func:`flatten_json_udf` for documents whose
    payload becomes plain text (the substring-cut write path rewrites a
    cut document's payload as the JSON encoding of its cleaned text;
    token-level surgery cannot preserve arbitrary JSON structure)."""
    import json

    return text.map(lambda s: json.dumps(s if s is not None else ""))


def split_chunks_udf(ctx_num: int):
    @F.pandas_udf(ArrayType(StringType()))
    def _split(prefix: pd.Series, text: pd.Series) -> pd.Series:
        return pd.Series(
            [split_text(p or "", t or "", ctx_num) for p, t in zip(prefix, text)]
        )

    return _split


def prepare_chunks(
    docs: DataFrame,
    name_col: str = "name",
    payload_col: str = "payload_json",
    ctx_num: int = 2048,
    id_col: str = "doc_id",
) -> DataFrame:
    """Upload-side text prep: JSON payload → flattened text → prefixed
    chunks, one output row per chunk with a stable per-document chunk
    index (replaces the reference's positional slice bookkeeping,
    server/upload.go:117-132).
    """
    prefix = F.when(
        (F.col(name_col).isNotNull()) & (F.col(name_col) != ""),
        F.concat(
            F.regexp_replace(F.trim(F.col(name_col)), r"\.$", ""), F.lit(". ")
        ),
    ).otherwise(F.lit(""))
    flat = docs.withColumn("_flat", flatten_json_udf(F.col(payload_col)))
    chunked = flat.withColumn(
        "_chunks", split_chunks_udf(ctx_num)(prefix, F.col("_flat"))
    )
    return chunked.select(
        F.col(id_col),
        F.posexplode("_chunks").alias("chunk_idx", "chunk"),
    ).withColumn("chunk", F.concat(F.lit(SEARCH_DOCUMENT_PREFIX), F.col("chunk")))


# ---------------------------------------------------------------------------
# Deterministic embedder (noop/ai.go:47-64 re-keyed to be content-hashed)
# ---------------------------------------------------------------------------

NOOP_DIM = 512
NOOP_LO, NOOP_HI = -1.0, 1.0  # fixed quantization range (noop/ai.go:53-56)


def noop_embed_codes(text: Column, dim: int = NOOP_DIM, seed: int = 0) -> Column:
    """Quantized embedding codes (array<int> in [0,255]) for ``text``.

    Byte i comes from the md5 stream of ``seed:text:block`` where
    block = i // 16 (md5 yields 16 bytes) — pure column expression, so
    embedding stays JVM-side; the reference's [-1, 1] range header is a
    constant. Content-keyed => reproducible under any partitioning.
    """
    n_blocks = (dim + 15) // 16
    hex_stream = F.concat(
        *[
            F.md5(F.concat_ws(":", F.lit(str(seed)), text, F.lit(str(b))))
            for b in range(n_blocks)
        ]
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.conv(F.substring(hex_stream, i * 2 + 1, 2), 16, 10).cast("int"),
    )


def noop_embed(text: Column, dim: int = NOOP_DIM, seed: int = 0) -> Column:
    """Dequantized float embedding (array<float>) in [-1, 1]."""
    span = NOOP_HI - NOOP_LO
    return F.transform(
        noop_embed_codes(text, dim, seed),
        lambda c: (F.lit(NOOP_LO) + c.cast("float") / F.lit(255.0) * F.lit(span)).cast(
            "float"
        ),
    )


# code -> float32(lo + code / 255 * span), evaluated in double then
# narrowed exactly as the expression's final cast does
_NOOP_LEVELS = [
    float(np.float32(NOOP_LO + c / 255.0 * (NOOP_HI - NOOP_LO))) for c in range(256)
]


def noop_embed_text(text: str, dim: int = NOOP_DIM, seed: int = 0) -> list[float]:
    """Driver-side twin of :func:`noop_embed` for one string, equal to
    the expression element for element: the same md5 blocks over the
    UTF-8 bytes of ``seed:text:block`` and the same float32 levels.
    The serving path embeds queries with it, so a query costs no Spark
    job."""
    stream = b"".join(
        hashlib.md5(f"{seed}:{text}:{b}".encode()).digest()
        for b in range((dim + 15) // 16)
    )
    return [_NOOP_LEVELS[c] for c in stream[:dim]]
