"""N-gram language-model perplexity scoring for corpus curation.

The curation technique CCNet introduced and RedPajama/CulturaX reuse:
train a small LM on a high-quality reference corpus (Wikipedia-grade),
score every candidate document's perplexity under it, and filter or
bucket by the score — fluent text scores low, boilerplate/gibberish
scores high. The heavyweight version uses KenLM; this is the same
mathematics (interpolated/backoff n-gram LM) built Spark-first:

  * TRAINING is the corpus-scale stage: one explode per order n ∈
    {1..N} feeding one ``groupBy(gram).count`` each — the classic
    distributed n-gram count; the model keeps only the top
    ``max_entries`` grams per order (TakeOrdered cut, skew-free), so
    the fitted model is BOUNDED regardless of corpus size;
  * SCORING is a narrow Arrow-batched map: the bounded count tables
    ship to workers once (closure/broadcast), each document scores as
    Σ −log2 P(w_i | context) / n_tokens with STUPID BACKOFF
    (Brants et al. 2007 — score(w|ctx) = counts ? ratio : α·score(w|
    shorter ctx); no discounting mass to tune, the standard choice at
    corpus scale). No shuffle, no join — the candidate corpus streams
    through codegen + one Python stage.

Like quality_model (the trainable classifier) this is a LEARNED
quality signal beside the fixed-weight heuristic; unlike it, it needs
no labels — just a reference corpus."""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BACKOFF_ALPHA = 0.4  # stupid-backoff discount (Brants et al. 2007)


@dataclass(frozen=True)
class NgramLM:
    """counts[k] maps a k-gram tuple -> count (k = 1..order); total is
    the unigram token total (denominator of the order-1 ratio).
    Unknown words at order 1 score as 1/(total+vocab) — a floor, so
    perplexity stays finite on out-of-vocabulary text."""

    order: int
    counts: tuple[dict[tuple, int], ...]  # index 0 -> unigrams
    total: int

    def logprob(self, gram: tuple) -> float:
        """log2 P(last word | preceding words) with stupid backoff."""
        for k in range(len(gram), 1, -1):
            sub = gram[len(gram) - k :]
            num = self.counts[k - 1].get(sub)
            if num:
                den = self.counts[k - 2].get(sub[:-1])
                if den:
                    return (
                        math.log2(num / den)
                        + (len(gram) - k) * math.log2(BACKOFF_ALPHA)
                    )
        uni = self.counts[0].get(gram[-1:], 0)
        floor = (uni + 1) / (self.total + len(self.counts[0]) + 1)
        return math.log2(floor) + (len(gram) - 1) * math.log2(BACKOFF_ALPHA)


def train_ngram_lm(
    docs: DataFrame,
    text_col: str = "text",
    order: int = 3,
    max_entries: int = 200_000,
) -> NgramLM:
    """Fit a bounded stupid-backoff LM on a reference corpus: one
    explode + one (gram, count) groupBy per order, top-``max_entries``
    grams kept per order (count desc, gram asc — deterministic), so
    driver memory is O(order x max_entries) however large the corpus.
    Tokenization is the engine's BM25 tokenizer: training, scoring,
    search and BPE all see one view of the text."""
    from concurrent.futures import ThreadPoolExecutor

    from go_vectorsearch_spark import persist
    from go_vectorsearch_spark.operators.fulltext import tokenize

    def gram_table(n: int) -> dict[tuple, int]:
        if n == 1:
            grams = toks.select(F.explode("_t").alias("g"))
            g_col = F.array("g")
        else:
            # n-gram via slice over the token array — codegen'd, no UDF.
            # Documents SHORTER than n must short-circuit to an empty
            # gram list: Spark's sequence(1, 0) counts DOWN ([1, 0]) and
            # slice(_t, 0, n) then throws — the same pitfall
            # dedup._shingles_of_tokens guards against.
            grams = toks.select(
                F.explode(
                    F.when(
                        F.size("_t") >= n,
                        F.transform(
                            F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                            lambda i: F.slice("_t", i, n),
                        ),
                    ).otherwise(F.array().cast("array<array<string>>"))
                ).alias("g")
            )
            g_col = F.col("g")
        rows = (
            grams.select(g_col.alias("g"))
            .groupBy("g")
            .agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), F.asc("g"))
            .limit(max_entries)
            .collect()
        )
        return {tuple(r["g"]): int(r["c"]) for r in rows}

    def corpus_total() -> int:
        # unigram total over the WHOLE corpus (not just kept rows):
        # one agg — keeps the order-1 ratio a true probability
        return int(toks.agg(F.sum(F.size("_t")).alias("s")).head()["s"] or 0)

    # ONE tokenize pass: the per-order count jobs and the unigram-total
    # agg all read the held token frame instead of re-running the
    # raw-text scan + split per action (order+1 corpus scans → 1; at
    # corpus scale the text scan dominates training). Scratch frame —
    # released before returning. The order+1 jobs are independent (each
    # a TakeOrdered/agg over the cached frame), so submit them together
    # and let later jobs back-fill the earlier jobs' straggler tails —
    # results land by index, so completion order cannot reorder the model
    with persist.Scope() as scope, ThreadPoolExecutor(order + 1) as pool:
        toks = scope.hold(docs.select(tokenize(F.col(text_col)).alias("_t")))
        futs = [pool.submit(gram_table, n) for n in range(1, order + 1)]
        tot_fut = pool.submit(corpus_total)
        counts = [f.result() for f in futs]
        total = tot_fut.result()
    return NgramLM(order=order, counts=tuple(counts), total=total)


def perplexity_score(
    docs: DataFrame,
    model: NgramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, log2ppl) per document — log2 perplexity under the
    model (lower = more reference-like; CCNet buckets head/middle/tail
    on exactly this number). Narrow Arrow-batched map; the bounded
    model rides the closure to each worker once. Empty documents score
    NULL."""
    import re as _re

    from go_vectorsearch_spark.operators.fulltext import TOKEN_SPLIT_RE

    order = model.order

    def run(batches):
        import pandas as pd

        pat = _re.compile(TOKEN_SPLIT_RE)
        for pdf in batches:
            ids, ns, ppls = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in pat.split((text or "").lower()) if w]
                ids.append(doc_id)
                ns.append(len(words))
                if not words:
                    ppls.append(None)
                    continue
                lp = 0.0
                for i, w in enumerate(words):
                    ctx = tuple(words[max(0, i - order + 1) : i])
                    lp += model.logprob(ctx + (w,))
                ppls.append(-lp / len(words))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "n_tokens": pd.Series(ns, dtype="int32"),
                    "log2ppl": pd.Series(ppls, dtype="float64"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} long, n_tokens int, log2ppl double"
    )
