"""Corpus-level distribution statistics for training-data pipelines:
concentration (Gini / HHI / top-k share), Zipf rank-frequency slope,
and Heaps-law vocabulary-growth curves.

Reference parity: textgraphs surfaces per-corpus frequency tables for
its word cloud (doc.py get_ent_counts / vis.py render_wordcloud); these
operators are the corpus-health statistics a 100 TB curation pipeline
derives from the same frequency table — how concentrated the token (or
source/host) distribution is, whether the rank-frequency law holds
(a sanity check against boilerplate floods), and how vocabulary scales
with corpus size (dedup effectiveness shows up as a flattening curve).

Scale notes (all three):
  * every operator starts from a HASH AGGREGATE over the raw corpus
    (token or key counts) — partial aggregation absorbs hot keys
    map-side, and everything downstream is vocabulary-sized, not
    corpus-sized;
  * the one global ordering (ranks for Gini / Zipf) goes through
    rankops.global_rank — range-partitioned exact row_number, never a
    single-task window;
  * checkpoint fan-out (vocab growth) is a broadcast join against a
    literal frame of O(10) rows;
  * integer moments stay BIGINT end-to-end so the final divisions are
    bit-equal to the DuckDB twin. At true 10^12-token scale the
    squared-count sum would saturate int64 — run the same plan with a
    pre-aggregation cast to double (per-engine deterministic), as
    graph_assortativity documents for its moments.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .blocking import tokens_col
from .rankops import global_rank


def _counts(df: DataFrame, key_col: str, weight_col: str | None) -> DataFrame:
    agg = (
        F.sum(weight_col) if weight_col is not None else F.count("*")
    ).cast("long").alias("cnt")
    return df.groupBy(F.col(key_col).alias("key")).agg(agg)


def concentration_metrics(
    df: DataFrame,
    *,
    key_col: str,
    weight_col: str | None = None,
    top_k: int = 10,
) -> DataFrame:
    """One-row concentration census of the ``key_col`` distribution:
    (n_keys, total, gini, hhi, top1_share, topk_share).

    Gini over the ascending-sorted counts x_1 <= ... <= x_n uses the
    closed form (2*sum(i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i)); HHI is
    sum(x_i^2)/total^2. Ranks come from global_rank (ties broken by
    key — fully deterministic), all moments are exact BIGINTs, and the
    two divisions are the only floating point — bit-equal across
    engines by construction.
    """
    counts = _counts(df, key_col, weight_col)
    # reused by the moment aggregate AND the top-k slice: materialize
    # once (EAGER + BATCH-ONLY) instead of re-running the corpus scan
    ranked = global_rank(counts, [F.col("cnt"), F.col("key")], rank_col="r")
    ranked = ranked.localCheckpoint()
    mom = ranked.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.sum(F.col("r") * F.col("cnt")).alias("s_rx"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s_x2"),
        F.max("cnt").alias("mx"),
    )
    topk = (
        ranked.join(F.broadcast(mom.select("n_keys")), how="cross")
        .filter(F.col("r") > F.col("n_keys") - top_k)
        .agg(F.sum("cnt").alias("s_topk"))
    )
    n, tot = F.col("n_keys"), F.col("total")
    return mom.join(F.broadcast(topk), how="cross").select(
        n.cast("long").alias("n_keys"),
        tot.cast("long").alias("total"),
        F.round(
            (2.0 * F.col("s_rx") - (n + 1) * tot) / (n * tot), 6
        ).alias("gini"),
        F.round(F.col("s_x2") / (tot * tot), 6).alias("hhi"),
        F.round(F.col("mx") / tot, 6).alias("top1_share"),
        F.round(F.coalesce(F.col("s_topk"), F.lit(0)) / tot, 6).alias(
            "topk_share"
        ),
    )


def token_frequencies(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(tok, freq) corpus frequency table — the shared first stage of
    the Zipf / Heaps / concentration family; one explode + one hash
    aggregate, same tokenizer as the textquality family."""
    return (
        docs.select(F.explode(tokens_col(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def zipf_fit(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """One-row Zipf rank-frequency diagnostic: OLS fit of
    ln(freq) ~ ln(rank) over the corpus token-frequency table —
    (n_vocab, n_tokens, slope, intercept). A healthy natural-language
    corpus sits near slope -1; boilerplate floods and template farms
    flatten the head and show up as a shallower slope.

    Ranks are descending-frequency (ties by token — deterministic) via
    global_rank; the OLS moments are four double sums over a
    vocabulary-sized frame with the closed-form slope
    (n*sxy - sx*sy) / (n*sxx - sx^2). Cross-engine double-sum
    association drift is absorbed by round(,6) on the two fitted
    coefficients (the integer columns stay exact).
    """
    freq = token_frequencies(docs, text_col=text_col)
    ranked = global_rank(
        freq, [F.col("freq").desc(), F.col("tok")], rank_col="rank"
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    mom = ranked.agg(
        F.count("*").alias("n"),
        F.sum("freq").alias("n_tokens"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return mom.select(
        F.col("n").cast("long").alias("n_vocab"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


DEFAULT_CHECKPOINTS = (1, 3, 7, 15, 31, 62, 125, 250, 500, 1000, 2000, 4000, 8000)


def vocab_growth(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoints: tuple[int, ...] = DEFAULT_CHECKPOINTS,
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: for each doc-id checkpoint c,
    (ckpt, docs_seen, tokens_seen, vocab) over the corpus prefix
    ``doc_id <= c``. Dedup effectiveness and template floods both read
    directly off this curve (near-dup corpora saturate vocab early).

    WINDOWLESS prefix semantics: instead of a cumulative window over
    the doc stream (a single-task funnel at corpus scale), each token's
    FIRST occurrence position is a min-aggregate (vocabulary-sized),
    and each checkpoint's vocab is a broadcast range-join count —
    vocab(c) = #{tok : first_doc(tok) <= c}. Checkpoints with no
    matching docs produce no row (inner-join semantics, mirrored by
    the oracle). All-integer — bit-equal across engines.
    """
    spark = docs.sparkSession
    cps = spark.createDataFrame([(int(c),) for c in checkpoints], "ckpt long")
    tok = docs.select(
        F.col(id_col).cast("long").alias("_doc"),
        F.explode(tokens_col(text_col)).alias("tok"),
    )
    first = tok.groupBy("tok").agg(F.min("_doc").alias("first_doc"))
    per_doc = docs.select(
        F.col(id_col).cast("long").alias("_doc"),
        F.size(tokens_col(text_col)).cast("long").alias("n_toks"),
    )
    vocab = (
        first.join(F.broadcast(cps), F.col("first_doc") <= F.col("ckpt"))
        .groupBy("ckpt")
        .agg(F.count("*").cast("long").alias("vocab"))
    )
    seen = (
        per_doc.join(F.broadcast(cps), F.col("_doc") <= F.col("ckpt"))
        .groupBy("ckpt")
        .agg(
            F.count("*").cast("long").alias("docs_seen"),
            F.sum("n_toks").cast("long").alias("tokens_seen"),
        )
    )
    return (
        seen.join(vocab, "ckpt")
        .select("ckpt", "docs_seen", "tokens_seen", "vocab")
        .orderBy("ckpt")
    )
