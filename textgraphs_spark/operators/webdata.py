"""Corpus-curation operators for web-scale training-data pipelines —
the operations a 100 TB pretraining pipeline runs between crawl and
tokenizer, complementing the per-document signals in textquality.py
and the pair generators in dedup.py:

* repetition_signals — Gopher-style within-document repetition stats
  (duplicate-word fraction, top-bigram / top-trigram mass fraction);
  the standard filter for degenerate machine-generated pages.
* boilerplate_ngrams — corpus-level n-gram document frequency; grams
  appearing in many distinct documents are navigation/footer
  boilerplate (the CCNet line-dedup idea lifted to token n-grams,
  which stays meaningful when documents are single-line).
* contaminated_docs — benchmark decontamination: flag corpus documents
  sharing ≥ 1 token n-gram with a (small, broadcast) eval set, the
  n-gram-overlap protocol used by GPT-3/PaLM-style dataset audits.
* minhash_dedup_clusters — the dedup *action*: transitive closure over
  MinHash-verified near-dup pairs (dedup.minhash_dedup_pairs →
  components.connected_components) and one canonical keeper per
  cluster — what a pipeline actually executes to drop near-dups.
* curation_decisions / source_curation_rollup — the per-doc keep/drop
  verdict ladder (near_dup → lang → low_quality → repetitive) and its
  per-source scoreboard (domain blocklists).
* canonical_url_col / url_dedup_clusters — URL canonicalization (pure
  codegen) + exact re-crawl dedup, the cheapest dedup channel.
* deterministic_sample / per_source_cap / per_source_cap_threshold —
  reproducible sharding and head-domain caps (exact + scale twin).
* unigram_cross_entropy — CCNet/KenLM-style perplexity filter against
  the corpus unigram distribution.

Scale notes (100 TB / 10^12 docs):

* Everything is explode → hash-aggregate with map-side partial
  aggregation; no operator materializes a per-document pair list and
  none collects to the driver (minhash_dedup_clusters inherits the
  size-adaptive CC, which only short-circuits below 500 k edges).
* repetition_signals keys every shuffle by doc_id (or (doc_id, gram));
  both aggregations partial-combine, so the shuffle volume is the
  distinct-gram count, not the token count.
* boilerplate_ngrams' second aggregate is keyed by gram — a Zipfian
  key set, but the partial agg collapses each partition to one row per
  distinct gram before the shuffle, so the hot gram costs one row per
  upstream partition (the classic word-count skew argument).
* contaminated_docs broadcasts the eval-set gram table (eval suites
  are ~10^3-10^6 grams — MB-scale) so the corpus side is map-only.

Tokenization is dedup.py's ``_TOKENS`` (lowercase, split on
non-alphanumeric runs) so every gram here is byte-reproducible by the
DuckDB oracle's ``string_split_regex`` twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .components import connected_components
from .dedup import _TOKENS, minhash_dedup_pairs
from .lehmer import LEHMER_P, det_hash, det_hash_sql

__all__ = [
    "repetition_signals",
    "boilerplate_ngrams",
    "contaminated_docs",
    "minhash_dedup_clusters",
    "near_dup_members",
    "curation_decisions",
    "source_curation_rollup",
    "canonical_url_col",
    "url_dedup_clusters",
    "deterministic_sample",
    "per_source_cap",
    "per_source_cap_threshold",
    "unigram_cross_entropy",
    "bigram_cross_entropy",
    "pack_sequences",
]


def _gram_col(n: int, toks: str = "_toks") -> Column:
    """Token n-grams of an array column as strings joined by one space.

    Grams stay STRINGS (not hashes): downstream per-gram counts feed
    value-level oracles, and a 64-bit hash collision would silently
    change a count here (unlike Jaccard in dedup.py, where set sizes
    are collision-robust and hashing keeps the pair join narrow).
    Docs with < n tokens get an empty array — the IF guard prevents
    sequence(1, 0) from counting DOWN (see dedup.ngram_jaccard_pairs).
    """
    parts = ", ".join(f"element_at({toks}, i + {j})" for j in range(n))
    return F.expr(
        f"IF(size({toks}) >= {n},"
        f" transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> concat_ws(' ', {parts})),"
        f" cast(array() as array<string>))"
    )


def repetition_signals(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition statistics (Gopher-style filters):

    * ``dup_word_frac``     — 1 − distinct/total words; the fraction of
      word occurrences that repeat an earlier word.
    * ``top_bigram_frac``   — occurrences of the most frequent bigram
      over all bigram occurrences.
    * ``top_trigram_frac``  — same for trigrams.

    Degenerate generated text (keyword stuffing, template spam) scores
    high on all three; Gopher drops docs with top-2-gram mass > 0.20.

    One exploded pass carries both gram sizes (tagged by ``n``) through
    a single (doc, n, gram) count and a single per-doc aggregate; word
    stats are computed map-side and left-joined so sub-bigram docs
    still appear (fractions 0.0).
    """
    toks = F.expr(_TOKENS.format(c=text_col))
    base = docs.select(F.col(id_col), toks.alias("_toks"))
    word = base.select(
        F.col(id_col),
        F.size("_toks").alias("n_words"),
        F.size(F.array_distinct("_toks")).alias("_n_distinct"),
    )
    ex = None
    for n in (2, 3):
        part = base.select(
            F.col(id_col), F.lit(n).alias("_n"),
            F.explode(_gram_col(n)).alias("_gram"),
        )
        ex = part if ex is None else ex.unionByName(part)
    counts = ex.groupBy(id_col, "_n", "_gram").agg(F.count("*").alias("_c"))
    stats = counts.groupBy(id_col).agg(
        F.max(F.when(F.col("_n") == 2, F.col("_c"))).alias("_top2"),
        F.sum(F.when(F.col("_n") == 2, F.col("_c"))).alias("_tot2"),
        F.max(F.when(F.col("_n") == 3, F.col("_c"))).alias("_top3"),
        F.sum(F.when(F.col("_n") == 3, F.col("_c"))).alias("_tot3"),
    )

    def frac(top: str, tot: str) -> Column:
        return F.round(
            F.when(F.col(tot) > 0, F.col(top) / F.col(tot)).otherwise(F.lit(0.0)),
            6,
        )

    return word.join(stats, id_col, "left").select(
        F.col(id_col),
        F.col("n_words"),
        F.round(
            F.when(
                F.col("n_words") > 0,
                1.0 - F.col("_n_distinct") / F.col("n_words"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_word_frac"),
        F.coalesce(frac("_top2", "_tot2"), F.lit(0.0)).alias("top_bigram_frac"),
        F.coalesce(frac("_top3", "_tot3"), F.lit(0.0)).alias("top_trigram_frac"),
    )


def boilerplate_ngrams(
    docs: DataFrame,
    *,
    n: int = 3,
    min_df: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token n-grams occurring in ≥ ``min_df`` distinct documents:
    (gram, df, n_occurrences). Grams this widespread are boilerplate
    (headers, footers, cookie banners) — pipelines strip or down-weight
    them before training.

    Two hash aggregates: (gram, doc) collapses within-doc repeats and
    yields df by construction; (gram) sums to corpus level. Partial
    aggregation makes the hot-gram skew a per-partition constant.
    """
    toks = F.expr(_TOKENS.format(c=text_col))
    per_doc = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(_gram_col(n)).alias("gram"))
        .groupBy("gram", id_col)
        .agg(F.count("*").alias("_c"))
    )
    return (
        per_doc.groupBy("gram")
        .agg(F.count("*").alias("df"), F.sum("_c").alias("n_occurrences"))
        .filter(F.col("df") >= min_df)
    )


def cross_doc_repetition(
    docs: DataFrame,
    *,
    n: int = 3,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document CROSS-corpus duplication signal (the
    RefinedWeb/Gopher "duplicated n-gram fraction" family):
    (id, n_grams, n_dup_grams, dup_frac) where ``dup_frac`` is the
    fraction of the document's n-gram OCCURRENCES whose gram appears in
    at least ``min_df`` distinct documents. ``repetition_signals``
    scores repetition WITHIN a doc; this scores how much of a doc is
    text the rest of the corpus also carries (mirrors, templated spam,
    syndicated articles score high) — the standard companion filter.

    Plan: one explode into a (doc, gram) count (the word-count shape,
    partial-agg'd), gram df derived from it by construction, and one
    vocabulary-keyed join of per-doc gram rows onto the df table —
    never a self-join of documents. Docs with < n tokens emit the
    no-signal row (0 grams, NULL dup_frac), same discipline as
    repetition_signals.
    """
    toks = F.expr(_TOKENS.format(c=text_col))
    per_doc = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(_gram_col(n)).alias("_gram"))
        .groupBy(id_col, "_gram")
        .agg(F.count("*").alias("_c"))
    )
    gram_df = per_doc.groupBy("_gram").agg(F.count("*").alias("_df"))
    scored = (
        per_doc.join(gram_df, "_gram")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_grams"),
            F.sum(F.when(F.col("_df") >= min_df, F.col("_c")).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
        .withColumn(
            "dup_frac", F.round(F.col("n_dup_grams") / F.col("n_grams"), 6)
        )
    )
    base = docs.select(F.col(id_col))
    return base.join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        F.col("dup_frac"),
    )


def contaminated_docs(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least one
    token ``n``-gram with ``eval_docs``; returns (doc_id, n_grams,
    n_matched, overlap_frac).

    The eval side collapses to its DISTINCT gram set and is broadcast —
    eval suites are tiny next to the corpus, so the corpus side is ONE
    scan: explode distinct per-doc grams, broadcast left-join the eval
    grams, and count total + matched grams in a single per-doc
    aggregate. Matching is over distinct grams per doc, so
    ``overlap_frac`` is a set-overlap fraction in [0, 1].
    """
    toks = F.expr(_TOKENS.format(c=text_col))
    eval_grams = (
        eval_docs.select(toks.alias("_toks"))
        .select(F.explode(_gram_col(n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus_grams = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(F.array_distinct(_gram_col(n))).alias("gram"))
    )
    agg = (
        corpus_grams.join(F.broadcast(eval_grams), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count("_hit").alias("n_matched"),
        )
    )
    return agg.filter(F.col("n_matched") > 0).select(
        F.col(id_col),
        "n_grams",
        "n_matched",
        F.round(F.col("n_matched") / F.col("n_grams"), 6).alias("overlap_frac"),
    )


def minhash_dedup_clusters(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    small_graph_threshold: int = 500_000,
    cc_stats: dict | None = None,
    **minhash_kwargs,
) -> DataFrame:
    """Near-dup clusters: transitive closure over MinHash-verified
    pairs, one row per cluster — (keep_id, n_docs, doc_ids).

    This is the operation a dedup pipeline actually runs: everything
    except ``keep_id`` (the minimum doc id of the cluster — the
    deterministic canonical keeper) is dropped from the corpus.
    Composes ``dedup.minhash_dedup_pairs`` (banded LSH, bucket-capped,
    exact-Jaccard-verified) with ``components.connected_components``
    (large-star/small-star; driver union-find only below 500 k edges).
    Match edges are vocabulary-of-near-dups sized — orders of magnitude
    below the corpus — so the closure is cheap relative to the pair
    generation. Singleton documents (no verified pair) are not
    clusters and do not appear.
    """
    pairs = minhash_dedup_pairs(
        docs, text_col=text_col, id_col=id_col, **minhash_kwargs
    )
    cc = connected_components(
        pairs.select(F.col("left_id").alias("src"), F.col("right_id").alias("dst")),
        small_graph_threshold=small_graph_threshold,
        stats=cc_stats,
    )
    return (
        cc.groupBy("component")
        .agg(
            F.count("*").alias("n_docs"),
            F.concat_ws("|", F.sort_array(F.collect_list("node"))).alias("doc_ids"),
        )
        .select(F.col("component").alias("keep_id"), "n_docs", "doc_ids")
    )


def near_dup_members(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    small_graph_threshold: int = 500_000,
    cc_stats: dict | None = None,
    **minhash_kwargs,
) -> DataFrame:
    """Ids of NON-CANONICAL near-dup cluster members — the rows a dedup
    pass drops (the minimum id of each cluster survives). One column
    (``id_col``); the staged input to ``curation_decisions(dupes=...)``.
    """
    pairs = minhash_dedup_pairs(
        docs, text_col=text_col, id_col=id_col, **minhash_kwargs
    )
    cc = connected_components(
        pairs.select(F.col("left_id").alias("src"), F.col("right_id").alias("dst")),
        small_graph_threshold=small_graph_threshold,
        stats=cc_stats,
    )
    return cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )


def curation_decisions(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple = ("en",),
    quality_min: float = 0.76,
    max_dup_word_frac: float = 0.65,
    max_top_bigram_frac: float = 0.2,
    max_pii_per_10k: float | None = None,
    dupes: DataFrame | None = None,
    **minhash_kwargs,
) -> DataFrame:
    """The end-to-end curation verdict per document — what a
    training-data pipeline actually emits before tokenization:
    (doc_id, reason, keep), with ``reason`` the FIRST failing gate of a
    deterministic ladder (near_dup → lang → low_quality → repetitive
    [→ pii]) or 'keep'.

    * near_dup     — the document is a non-canonical member of a
      MinHash near-dup cluster (``minhash_dedup_pairs`` →
      ``connected_components``; the minimum doc id survives).
    * lang         — heuristic language ID outside ``langs``.
    * low_quality  — composite quality score below ``quality_min``.
    * repetitive   — Gopher-style repetition gates (dup-word fraction /
      top-bigram mass) exceeded.
    * pii          — optional (``max_pii_per_10k`` not None): PII
      density (operators.pii census, per 10k chars) above the bound;
      rides the SAME one-projection scan as lang/quality, so enabling
      it adds zero shuffles and zero extra corpus scans.

    Plan shape at scale: the language AND quality signals are map-only
    column expressions computed in ONE projection over one corpus scan
    (not one scan + one join each — `textquality.pred_lang_col` /
    `quality_col` exist exactly for this composition); repetition is
    its own doc_id-keyed aggregation branch; the dup flag is the
    (vocabulary-of-near-dups sized) CC assignment; everything meets on
    doc_id. Every document appears exactly once in the output.
    """
    from .textquality import pred_lang_col, quality_col

    if dupes is None:
        # the MinHash closure is the expensive branch — staged callers
        # (plans.curation_pipeline) checkpoint near_dup_members and pass
        # it in so a resumed run never recomputes the pair generation
        dupes = near_dup_members(
            docs, text_col=text_col, id_col=id_col, **minhash_kwargs
        )
    dupes = dupes.select(F.col(id_col), F.lit(1).alias("_dup"))
    sig_cols = [
        F.col(id_col),
        pred_lang_col(text_col).alias("pred_lang"),
        quality_col(text_col).alias("quality"),
    ]
    if max_pii_per_10k is not None:
        from .pii import pii_count_cols

        total = None
        for c in pii_count_cols(text_col).values():
            total = c if total is None else total + c
        n_chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
        sig_cols.append(
            F.when(n_chars > 0, total * 10000.0 / n_chars)
            .otherwise(F.lit(0.0))
            .alias("_pii_density")
        )
    signals = docs.select(*sig_cols)
    r = repetition_signals(docs, text_col=text_col, id_col=id_col).select(
        id_col, "dup_word_frac", "top_bigram_frac"
    )
    base = (
        signals
        .join(dupes, id_col, "left")
        .join(r, id_col)
    )
    reason = (
        F.when(F.col("_dup").isNotNull(), F.lit("near_dup"))
        .when(~F.col("pred_lang").isin(*langs), F.lit("lang"))
        .when(F.col("quality") < quality_min, F.lit("low_quality"))
        .when(
            (F.col("dup_word_frac") > max_dup_word_frac)
            | (F.col("top_bigram_frac") > max_top_bigram_frac),
            F.lit("repetitive"),
        )
    )
    if max_pii_per_10k is not None:
        reason = reason.when(
            F.col("_pii_density") > max_pii_per_10k, F.lit("pii")
        )
    reason = reason.otherwise(F.lit("keep"))
    return base.select(
        F.col(id_col), reason.alias("reason"), (reason == "keep").alias("keep")
    )


def minhash_clusters_oracle_sql(**minhash_kwargs) -> str:
    """DuckDB twin of ``minhash_dedup_clusters``: the bit-reproducing
    MinHash pair SQL (dedup.minhash_oracle_sql) closed transitively by
    a recursive reach CTE (same pattern as the flagship ER oracle,
    plans/er_oracle.py), then grouped to (keep_id, n_docs, doc_ids)."""
    from .dedup import minhash_oracle_sql

    inner = minhash_oracle_sql(**minhash_kwargs)
    return f"""WITH RECURSIVE
pairs AS MATERIALIZED ({inner}),
edgesu AS MATERIALIZED (
  SELECT left_id AS a, right_id AS b FROM pairs
  UNION SELECT right_id, left_id FROM pairs
),
nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM edgesu),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, x.r FROM reach x JOIN edgesu e ON e.a = x.node
),
comp AS MATERIALIZED (SELECT node, min(r) AS keep_id FROM reach GROUP BY node)
SELECT keep_id, count(*) AS n_docs,
       array_to_string(list_sort(list(node)), '|') AS doc_ids
FROM comp GROUP BY keep_id
"""


def remove_boilerplate_lines(
    docs: DataFrame,
    *,
    min_df: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """C4-style boilerplate-line REMOVAL — the action for the
    boilerplate-mining family (``boilerplate_ngrams`` finds the
    templates; this strips them): any exact line appearing in at least
    ``min_df`` DISTINCT documents is dropped from every document —
    (id, clean_text, n_lines, n_removed). Line order is preserved;
    empty lines are never boilerplate candidates (no signal is not
    sameness) and always survive; NULL text is treated as ''.

    Plan shape at scale (the reason this is NOT a broadcast of the
    boilerplate set): the line-df table is corpus-vocabulary sized and
    at web scale can hold 10^8+ lines over the threshold, so membership
    is a line-keyed equi-join of exploded lines against it — partial
    aggregation absorbs the hot templates on the df side, AQE picks
    broadcast when the set is genuinely small — followed by one
    doc-keyed reassembly aggregation ordered by line position. Two
    shuffles, both on keys whose cardinality grows with the data.

    ``delim`` must be regex-safe as a split pattern (it is also the
    rejoin separator); the default newline is the C4 convention.
    """
    base = docs.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("_t")
    )
    lines = base.select(
        F.col(id_col), F.posexplode(F.split("_t", delim)).alias("pos", "line")
    )
    bp = (
        lines.filter(F.col("line") != "")
        .groupBy("line")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("line", F.lit(1).alias("_bp"))
    )
    flagged = lines.join(bp, "line", "left")
    kept_struct = F.when(
        F.col("_bp").isNull(), F.struct(F.col("pos"), F.col("line"))
    )  # collect_list skips NULLs, so removed lines vanish here
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.count("_bp").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["line"]
                ),
                delim,
            ).alias("clean_text"),
        )
        .select(F.col(id_col), "clean_text", "n_lines", "n_removed")
    )


def boilerplate_removal_select(
    source_sql: str,
    *,
    min_df: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of ``remove_boilerplate_lines`` as a
    (id, clean_text, n_lines, n_removed) SELECT over any (id, text)
    relation — same >= min_df distinct-doc line frequency, same
    order-preserving in-place list filter. Shared by the
    boilerplate_removal oracle and the engine-parity fuzz test so the
    two can never drift."""
    return f"""
WITH src AS ({source_sql}),
d AS (SELECT {id_col}, string_split(coalesce({text_col}, ''), chr(10)) AS ls FROM src),
l AS (SELECT {id_col}, unnest(ls) AS line FROM d),
bp AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT {id_col}) AS c FROM l WHERE line <> '' GROUP BY line
  ) t WHERE c >= {min_df}
),
bl AS (SELECT coalesce(list(line), CAST([] AS VARCHAR[])) AS blist FROM bp)
SELECT d.{id_col},
  -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's reassembly
  -- of an everything-removed doc is '' (caught by the fuzz test)
  coalesce(array_to_string(list_filter(d.ls, x -> NOT list_contains(bl.blist, x)), chr(10)), '') AS clean_text,
  CAST(len(d.ls) AS BIGINT) AS n_lines,
  CAST(len(d.ls) - len(list_filter(d.ls, x -> NOT list_contains(bl.blist, x))) AS BIGINT) AS n_removed
FROM d CROSS JOIN bl
"""


def dedup_paragraphs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """RefinedWeb-style EXACT paragraph dedup with keep-FIRST semantics:
    the first corpus-wide occurrence of each paragraph (ordered by
    ``(id, position)``) survives; every later exact repeat is dropped
    from its document — (id, clean_text, n_paras, n_removed). The
    granularity between line-level boilerplate stripping (which needs a
    df threshold) and doc-level dedup (which needs near-total overlap):
    a paragraph lifted verbatim into 40 other pages vanishes from all
    40, while its origin keeps it. Empty paragraphs carry no signal and
    always survive; NULL text is ''.

    Plan shape at scale: explode → ONE md5-keyed winner aggregation
    (min struct per hash — partial agg absorbs hot paragraphs map-side)
    → md5-keyed equi-join back (never the full paragraph text on the
    shuffle wire) → one doc-keyed positional reassembly. Winner identity
    rides a 128-bit hash; a cross-paragraph md5 collision (2^-64 at
    10^12 paras) could only drop one extra paragraph — the same
    collision budget the minhash/winnow channels document.

    ``delim`` must be regex-safe as a split pattern (it is also the
    rejoin separator); the newline default treats lines as paragraphs,
    matching the C4 convention used by ``remove_boilerplate_lines``.
    """
    base = docs.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("_t")
    )
    paras = base.select(
        F.col(id_col), F.posexplode(F.split("_t", delim)).alias("pos", "para")
    ).withColumn("_h", F.md5(F.col("para")))
    winners = (
        paras.filter(F.col("para") != "")
        .groupBy("_h")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_w"))
    )
    flagged = paras.join(winners, "_h", "left").withColumn(
        "_keep",
        (F.col("para") == "")
        | ((F.col(f"_w.{id_col}") == F.col(id_col)) & (F.col("_w.pos") == F.col("pos"))),
    )
    kept_struct = F.when(F.col("_keep"), F.struct(F.col("pos"), F.col("para")))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_paras"),
            F.sum((~F.col("_keep")).cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["para"]
                ),
                delim,
            ).alias("clean_text"),
        )
        .select(F.col(id_col), "clean_text", "n_paras", "n_removed")
    )


def dedup_paragraphs_select(
    source_sql: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`dedup_paragraphs` over any (id, text)
    relation — same keep-first-by-(id, pos) winner rule, same
    empty-paragraph survival, newline delimiter. Shared by the
    dedup_paragraphs oracle and the engine-parity fuzz test."""
    return f"""
WITH src AS ({source_sql}),
d AS (SELECT {id_col}, string_split(coalesce({text_col}, ''), chr(10)) AS ps FROM src),
p AS (
  SELECT {id_col}, unnest(ps) AS para,
         generate_subscripts(ps, 1) - 1 AS pos
  FROM d
),
rk AS (
  SELECT {id_col}, para, pos,
         row_number() OVER (PARTITION BY md5(para) ORDER BY {id_col}, pos) AS rn
  FROM p
)
SELECT {id_col},
  coalesce(string_agg(CASE WHEN para = '' OR rn = 1 THEN para END,
                      chr(10) ORDER BY pos), '') AS clean_text,
  count(*) AS n_paras,
  CAST(sum(CASE WHEN para <> '' AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM rk GROUP BY {id_col}
"""


def stratified_sample_select(
    source_sql: str,
    fractions: dict,
    *,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> str:
    """DuckDB twin of ``stratified_sample`` over any (id, stratum)
    relation — same Lehmer-mixer thresholds, same CASE-chain
    defaulting. Shared by the stratified_sample oracle and the
    engine-parity fuzz test."""
    h = det_hash_sql(id_col)
    cases = " ".join(
        f"WHEN {stratum_col} = '{s}' THEN {int(f * LEHMER_P)}"
        for s, f in sorted(fractions.items())
    )
    return f"""
WITH src AS ({source_sql})
SELECT {id_col}, {stratum_col}, {h} AS sample_key FROM src
WHERE {h} < (CASE {cases} ELSE {int(default_fraction * LEHMER_P)} END)
"""


def stratified_sample(
    docs: DataFrame,
    fractions: dict,
    *,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Reproducible PER-STRATUM sample: keep a row iff its id-hash
    falls under its stratum's fraction of the hash space —
    (id, stratum, sample_key). The stratified twin of
    ``deterministic_sample`` for rebalancing a training mix (e.g. keep
    50 % of English, 10 % of each long-tail language): a pure function
    of (id, stratum), so the shard is identical across cluster sizes,
    retries, and resumed runs. Strata absent from ``fractions``
    (including NULL) use ``default_fraction``. Map-only codegen: the
    fraction table is a handful of literals folded into one CASE chain,
    never a join.
    """
    for stratum, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {stratum!r} must be in [0, 1], got {frac}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0, 1], got {default_fraction}")
    thresh = F.lit(int(default_fraction * LEHMER_P))
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(stratum_col) == stratum, F.lit(int(frac * LEHMER_P))
        ).otherwise(thresh)
    return (
        docs.select(
            F.col(id_col),
            F.col(stratum_col),
            det_hash(F.col(id_col)).alias("sample_key"),
        )
        .filter(F.col("sample_key") < thresh)
    )


_TRACKING_RE = "^(utm_[a-z]+|ref|fbclid|gclid)="


def canonical_url_col(url_col: str = "url") -> Column:
    """Canonical form of a URL as a pure codegen column (map-only, no
    UDF): drop the fragment, scheme, and a leading ``www.``; strip one
    trailing slash from the path; drop tracking query params
    (``utm_*``, ``ref``, ``fbclid``, ``gclid``) and SORT the survivors
    so param order never splits a dedup group. The regex steps are
    byte-reproduced by the DuckDB twin inside
    ``__spark_entry__.oracle_sql`` — keep them in lockstep.
    """
    u = F.regexp_replace(F.col(url_col), "#.*$", "")
    u = F.regexp_replace(u, "^https?://", "")
    u = F.regexp_replace(u, "^www\\.", "")
    path = F.regexp_replace(F.split_part(u, F.lit("?"), F.lit(1)), "/$", "")
    query = F.split_part(u, F.lit("?"), F.lit(2))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
    )
    return F.concat(
        path,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
        ).otherwise(F.lit("")),
    )


def host_col(url_col: str = "url") -> Column:
    """Registrable-host extraction as a pure codegen column: scheme and
    leading ``www.`` stripped, the authority cut at the first ``/``,
    any ``:port`` dropped, lowercased. NULL url → NULL host (no
    signal). Byte-reproduced by the DuckDB twins below — keep in
    lockstep."""
    u = F.regexp_replace(F.col(url_col), "^https?://", "")
    u = F.regexp_replace(u, "^www\\.", "")
    return F.lower(F.split_part(F.split_part(u, F.lit("/"), F.lit(1)),
                                F.lit(":"), F.lit(1)))


def _host_sql(url_col: str = "url") -> str:
    return (
        "lower(split_part(split_part(regexp_replace(regexp_replace("
        f"{url_col}, '^https?://', ''), '^www\\.', ''), '/', 1), ':', 1))"
    )


def host_stats(pages: DataFrame, *, url_col: str = "url") -> DataFrame:
    """Per-host crawl census — (host, n_docs, n_unique_pages,
    dup_rate): how many raw rows each host contributed, how many
    DISTINCT canonical pages that is, and the fraction that were
    repeats — the signal a curation run uses to spot mirror farms and
    crawler traps before spending pair-generation budget on them. One
    host-keyed aggregation; partial aggregation absorbs head domains
    map-side (the count-distinct is per-host, sharded by the same key).
    NULL urls carry no host and are excluded."""
    return (
        pages.select(host_col(url_col).alias("host"),
                     canonical_url_col(url_col).alias("_c"))
        .filter(F.col("host").isNotNull())
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("_c").alias("n_unique_pages"),
        )
        .withColumn(
            "dup_rate",
            F.round(1.0 - F.col("n_unique_pages") / F.col("n_docs"), 6),
        )
    )


def host_stats_select(source_sql: str, *, url_col: str = "url") -> str:
    """DuckDB twin of :func:`host_stats` — composes the shared
    ``canonical_url_select`` twin (the host expression rides through its
    id column), same rounding."""
    h = _host_sql(url_col)
    inner = (f"SELECT {h} AS host, {url_col} FROM ({source_sql}) "
             f"WHERE {url_col} IS NOT NULL")
    cu = canonical_url_select(inner, id_col="host", url_col=url_col)
    return f"""
WITH c AS ({cu})
SELECT host, count(*) AS n_docs,
       count(DISTINCT canonical_url) AS n_unique_pages,
       round(1.0 - count(DISTINCT canonical_url) / count(*), 6) AS dup_rate
FROM c GROUP BY host
"""


def host_blocklist_filter(
    pages: DataFrame,
    blocked_hosts,
    *,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """UT1-style domain-reputation gate: drop every row whose host is
    on the blocklist — (id, host, canonical_url) of the survivors.
    ``blocked_hosts`` is a list of hosts or a 1-column DataFrame; either
    way it is BROADCAST into a left-anti join (real blocklists are a
    few million short strings — megabytes, never worth a shuffle of the
    10^12-row corpus side). NULL urls carry no host and are dropped
    (the no-signal convention shared with url_dedup)."""
    spark = pages.sparkSession
    if isinstance(blocked_hosts, DataFrame):
        bl = blocked_hosts.toDF("host")
    else:
        bl = spark.createDataFrame(
            [(h,) for h in sorted(set(blocked_hosts))], "host string"
        )
    rows = pages.select(
        F.col(id_col),
        host_col(url_col).alias("host"),
        canonical_url_col(url_col).alias("canonical_url"),
    ).filter(F.col("host").isNotNull())
    return rows.join(F.broadcast(bl), "host", "left_anti").select(
        id_col, "host", "canonical_url"
    )


def host_blocklist_filter_select(
    source_sql: str,
    blocked_hosts: list,
    *,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`host_blocklist_filter` — composes the
    shared ``canonical_url_select`` twin; the blocklist inlined as
    literals."""
    h = _host_sql(url_col)
    blist = ", ".join(
        "'" + b.replace("'", "''") + "'" for b in sorted(set(blocked_hosts))
    )
    inner = (f"SELECT {id_col}, {url_col} FROM ({source_sql}) "
             f"WHERE {url_col} IS NOT NULL")
    cu = canonical_url_select(inner, id_col=id_col, url_col=url_col)
    return f"""
WITH cu AS ({cu}),
hh AS (SELECT {id_col}, {h} AS host FROM ({source_sql})
       WHERE {url_col} IS NOT NULL)
SELECT cu.{id_col}, hh.host, cu.canonical_url
FROM cu JOIN hh USING ({id_col})
WHERE hh.host NOT IN ({blist})
"""


def url_dedup_clusters(
    pages: DataFrame, *, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Exact URL-level dedup after canonicalization: one row per
    canonical URL fetched more than once — (canonical_url, n_urls,
    keep_id, doc_ids). The first crawl (minimum doc id) survives.

    At 100 TB this is the cheapest dedup channel and always runs
    before content dedup: canonicalization is map-only codegen and
    the group-by is one partial-aggregated hash shuffle keyed by
    canonical_url (head-domain skew lands on DISTINCT paths, so the
    key space stays fine-grained — no salting needed).

    NULL urls never pair (no signal is not sameness — the dedup-family
    contract, see dedup.py): rows with a NULL url are dropped, not
    grouped into a bogus NULL-key cluster.
    """
    c = pages.filter(F.col(url_col).isNotNull()).select(
        F.col(id_col), canonical_url_col(url_col).alias("canonical_url")
    )
    return (
        c.groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_urls"),
            F.min(id_col).alias("keep_id"),
            F.concat_ws("|", F.sort_array(F.collect_list(id_col))).alias("doc_ids"),
        )
        .filter(F.col("n_urls") >= 2)
    )


def source_curation_rollup(
    docs: DataFrame,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    **curation_kwargs,
) -> DataFrame:
    """Per-source (domain) curation scoreboard: document counts, keeps,
    keep rate, and per-reason drop counts — the aggregate a pipeline
    uses to build domain blocklists (a source whose keep_rate collapses
    is spam/boilerplate and gets cut at the crawl frontier instead of
    being re-filtered document by document forever).

    One extra doc_id-keyed join + one source-keyed aggregate on top of
    ``curation_decisions``; source cardinality is tiny next to the
    corpus, so the final aggregate is a near-free shuffle.
    """
    cur = curation_decisions(docs, id_col=id_col, **curation_kwargs)
    joined = docs.select(F.col(id_col), F.col(source_col)).join(cur, id_col)
    agg = joined.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.sum((F.col("reason") == "near_dup").cast("int")).alias("n_near_dup"),
        F.sum((F.col("reason") == "lang").cast("int")).alias("n_lang"),
        F.sum((F.col("reason") == "low_quality").cast("int")).alias("n_low_quality"),
        F.sum((F.col("reason") == "repetitive").cast("int")).alias("n_repetitive"),
    )
    return agg.select(
        F.col(source_col),
        "n_docs",
        "n_keep",
        F.round(F.col("n_keep") * 1.0 / F.col("n_docs"), 6).alias("keep_rate"),
        "n_near_dup",
        "n_lang",
        "n_low_quality",
        "n_repetitive",
    )


def deterministic_sample(
    docs: DataFrame, fraction: float, *, id_col: str = "doc_id"
) -> DataFrame:
    """Reproducible Bernoulli-style sample: keep rows whose id-hash
    falls under ``fraction`` of the hash space — (id, sample_key).

    Unlike ``DataFrame.sample`` (seeded RNG over a PARTITIONING — the
    sample changes when the partition layout does), this is a pure
    function of the id: stable across cluster sizes, retries, and
    resumed runs, so a 10% training shard drawn today is byte-identical
    when the job re-runs tomorrow on different hardware. Map-only
    codegen, no shuffle.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    threshold = int(fraction * LEHMER_P)
    return (
        docs.select(F.col(id_col), det_hash(F.col(id_col)).alias("sample_key"))
        .filter(F.col("sample_key") < threshold)
    )


def per_source_cap(
    docs: DataFrame,
    cap: int,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT per-source document cap: keep at most ``cap`` docs per
    source, chosen by deterministic hash order (a stable shuffle, so
    the kept set is reproducible) — (id, source, rk).

    Head-domain mitigation: without a cap, the top domains dominate a
    crawl-ordered corpus. This exact form ranks within each source via
    a window — which funnels the HOT source through one task. Its scale
    twin is ``per_source_cap_threshold`` (no window, approximate); ship
    both, pick by corpus.
    ``WindowGroupLimit`` pushes the rank filter below the shuffle, so
    only ~cap rows per source per map partition reach the exchange.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(source_col).orderBy(
        det_hash(F.col(id_col)), F.col(id_col)
    )
    return (
        docs.select(F.col(id_col), F.col(source_col))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
    )


def per_source_cap_threshold(
    docs: DataFrame,
    cap: int,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scale twin of ``per_source_cap``: approximately cap each source
    by hash THRESHOLD instead of rank — (id, source). Two passes, no
    window: per-source counts (one tiny aggregate, broadcast back)
    set each source's keep-fraction ``cap/count``, then a map-only
    hash-threshold filter keeps ~cap docs. The hot source never
    funnels into one task; the cap is approximate (binomial jitter
    around ``cap``), which head-domain mitigation tolerates — the
    point is 10^4±100 docs from the hot domain, not exactly 10^4.

    NULL sources are capped as ONE group via a null-safe join —
    the same convention as the exact twin, whose window partitioning
    groups NULLs together — so swapping twins on dirty data does not
    change which rows survive.
    """
    counts = docs.groupBy(source_col).agg(F.count("*").alias("_n"))
    frac = F.least(F.lit(1.0), F.lit(cap) / F.col("_n"))
    thresholds = counts.select(
        F.col(source_col).alias("_src"),
        F.floor(frac * LEHMER_P).cast("long").alias("_thresh"),
    )
    return (
        docs.select(F.col(id_col), F.col(source_col))
        .join(
            F.broadcast(thresholds),
            F.col(source_col).eqNullSafe(F.col("_src")),
        )
        .filter(det_hash(F.col(id_col)) < F.col("_thresh"))
        .select(F.col(id_col), F.col(source_col))
    )


def unigram_cross_entropy(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document cross-entropy against the corpus unigram LM —
    (id, n_tokens, xent): mean surprisal −ln(count(t)/total) over the
    document's token OCCURRENCES, in nats. The pure-DataFrame analog of
    the CCNet/KenLM perplexity filter: natural prose tracks the corpus
    distribution (low xent); rare-token gibberish, encoding mojibake,
    and keyword-stuffed spam score high. Filter tails on BOTH ends —
    implausibly low means boilerplate/templated text.

    Plan: one explode feeding a token-count aggregate (vocabulary-sized
    output), a token-keyed join of occurrences back onto those counts,
    and a per-doc aggregate. The frequency side is vocabulary-sized —
    often broadcastable, but NOT assumed so (web-scale vocabularies
    with no df floor run 10^9+ tokens); AQE picks broadcast when the
    vocab is small enough. Token-key skew ("the" everywhere) does not
    funnel: joins only fan out rows, and both aggregates partial-combine.
    Docs with zero tokens (empty or NULL text) carry n_tokens 0/NULL
    and NULL xent — no signal, same discipline as repetition_signals.
    """
    toks = F.expr(_TOKENS.format(c=text_col))
    occ = docs.select(F.col(id_col), F.explode(toks).alias("_tok"))
    freq = occ.groupBy("_tok").agg(F.count("*").alias("_c"))
    total = freq.agg(F.sum("_c").alias("_total"))
    scored = (
        occ.join(freq, "_tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("_c") / F.col("_total"))), 6).alias("xent"),
        )
    )
    # empty/NULL-text docs vanish in the explode; restore them with the
    # no-signal row so every input doc appears exactly once
    base = docs.select(F.col(id_col), F.size(toks).alias("_n"))
    return base.join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.col("_n").cast("long")).alias("n_tokens"),
        F.col("xent"),
    )


def canonical_url_select(source_sql: str, *, id_col: str = "doc_id",
                         url_col: str = "url") -> str:
    """DuckDB twin of ``canonical_url_col`` as a (id, canonical_url)
    SELECT over any (id, url) relation — keep the regex/param-sort
    steps in lockstep with the Column version above. Shared by the
    url_dedup oracle and the engine-parity fuzz test."""
    return f"""
WITH _raw AS ({source_sql}),
_c AS (
  SELECT {id_col},
         regexp_replace(regexp_replace(regexp_replace({url_col},
           '#.*$', ''), '^https?://', ''), '^www\\.', '') AS u
  FROM _raw
),
_p AS (
  SELECT {id_col},
         regexp_replace(split_part(u, '?', 1), '/$', '') AS path,
         list_sort(list_filter(string_split(split_part(u, '?', 2), '&'),
           x -> x <> '' AND NOT regexp_matches(x, '{_TRACKING_RE}'))) AS params
  FROM _c
)
SELECT {id_col},
       path || CASE WHEN len(params) > 0
                    THEN '?' || array_to_string(params, '&') ELSE '' END AS canonical_url
FROM _p
"""


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    *,
    n_shards: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pretraining sequence-packing PLAN (GPT-style concat-and-chunk):
    assign every document its token span in fixed-length training
    sequences — (id, shard, n_tokens, seq_id, offset), where the doc's
    tokens start at ``offset`` inside sequence ``seq_id`` of its shard
    and spans may straddle sequence boundaries (concat-then-chunk
    semantics; the tokenizer writer consumes this plan).

    Documents concatenate in deterministic (shard, id) order, so the
    packing is reproducible across cluster sizes and re-runs — the same
    property as ``deterministic_sample``. The running token total needs
    an ordered window; ``n_shards`` bounds each window's partition (one
    shard = one global sort — fine for a single writer; at 10^12 docs
    use ~#output-file shards so every window sorts only its shard, the
    same parallelism unit the writer wants anyway). Shard assignment is
    the Lehmer mixer, so the DuckDB oracle reproduces it exactly.
    NULL-text docs carry NULL n_tokens/seq_id/offset (no signal) and do
    not shift their neighbors' spans.
    """
    from pyspark.sql import Window

    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    toks = F.expr(_TOKENS.format(c=text_col))
    shard = F.pmod(det_hash(F.col(id_col)), F.lit(n_shards))
    base = docs.select(
        F.col(id_col),
        shard.alias("shard"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        F.col(id_col),
        "shard",
        "n_tokens",
        F.floor(start / seq_len).alias("seq_id"),
        F.pmod(start, F.lit(seq_len)).alias("offset"),
    )


def bigram_cross_entropy(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document cross-entropy against the corpus BIGRAM LM —
    (id, n_bigrams, xent2): mean surprisal −ln(c(prev,tok)/c_hist(prev))
    over the document's bigram occurrences, in nats. The order-2
    companion to ``unigram_cross_entropy``: unigram xent cannot see
    scrambled word salad built from common words ("the of and the to"),
    bigram xent scores it high because those ADJACENCIES are rare.
    Self-scoring against the same corpus keeps every probability > 0
    (each scored bigram was counted), so no smoothing constant enters
    the cross-engine contract — same discipline as the unigram form.

    Plan: one bigram explode (positions, not distinct) feeding a
    bigram-count aggregate and a history-count aggregate (both
    vocabulary²-bounded but occurrence-sparse), a two-key join of
    occurrences back onto counts, and a per-doc aggregate. Same
    no-funnel argument as unigram: joins fan out, aggregates
    partial-combine. Docs with < 2 tokens carry n_bigrams 0 and NULL
    xent2.
    """
    toks = F.expr(_TOKENS.format(c=text_col))
    bi = F.expr(
        "IF(size(_toks) >= 2,"
        " transform(sequence(1, size(_toks) - 1),"
        "   i -> struct(element_at(_toks, i) AS p, element_at(_toks, i + 1) AS t)),"
        " cast(array() as array<struct<p: string, t: string>>))"
    )
    occ = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(bi).alias("_b"))
        .select(F.col(id_col), F.col("_b.p").alias("_p"), F.col("_b.t").alias("_t"))
    )
    freq = occ.groupBy("_p", "_t").agg(F.count("*").alias("_c"))
    hist = occ.groupBy("_p").agg(F.count("*").alias("_ch"))
    scored = (
        occ.join(freq, ["_p", "_t"])
        .join(hist, "_p")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log(F.col("_c") / F.col("_ch"))), 6).alias("xent2"),
        )
    )
    base = docs.select(
        F.col(id_col),
        F.greatest(F.size(toks) - 1, F.lit(0)).cast("long").alias("_n"),
    )
    return base.join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.col("_n")).alias("n_bigrams"),
        F.col("xent2"),
    )


def source_mixture_weights(
    docs: DataFrame,
    *,
    alpha: float = 0.5,
    token_budget: int = 1_000_000,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled source sampling weights for training-mix
    construction (the GPT-3/Pile pattern: weight ∝ tokens^alpha, alpha
    < 1 upweights small sources) — (source, n_docs, n_tokens, weight,
    exp_tokens, eff_epochs) ordered by source, where ``weight`` is the
    normalized share, ``exp_tokens = weight * token_budget`` and
    ``eff_epochs = exp_tokens / n_tokens`` (how many passes over the
    source the mix implies — the over-sampling red flag when >> 1).

    alpha defaults to 0.5 because sqrt is CORRECTLY ROUNDED under IEEE
    754 in both engines (general pow is not guaranteed to the last
    ulp); any alpha is accepted and computed via pow.

    Scale: one corpus scan into a sources-sized hash agg (map-side
    combining), then a 1-row normalizer broadcast crossJoin. The
    corpus never shuffles.
    """
    from .blocking import tokens_col

    per = (
        docs.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size(tokens_col(text_col))).cast("long").alias("n_tokens"),
        )
    )
    scaled = per.withColumn(
        "_s",
        F.sqrt("n_tokens") if alpha == 0.5
        else F.pow(F.col("n_tokens"), F.lit(alpha)),
    )
    z = scaled.agg(F.sum("_s").alias("_z"))
    return (
        scaled.crossJoin(F.broadcast(z))
        .select(
            "source", "n_docs", "n_tokens",
            F.round(F.col("_s") / F.col("_z"), 6).alias("weight"),
            F.round(F.col("_s") / F.col("_z") * token_budget, 2)
            .alias("exp_tokens"),
            F.round(
                F.col("_s") / F.col("_z") * token_budget / F.col("n_tokens"), 6
            ).alias("eff_epochs"),
        )
        .orderBy("source")
    )


def source_mixture_weights_select(
    source_sql: str,
    *,
    alpha: float = 0.5,
    token_budget: int = 1_000_000,
    source_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of ``source_mixture_weights`` — same tokenization,
    same sqrt/pow scaling and rounding."""
    toks = (
        f"len(list_filter(string_split_regex(lower({text_col}),"
        " '[^\\p{L}0-9]+'), t -> t <> ''))"
    )
    s_expr = "sqrt(n_tokens)" if alpha == 0.5 else f"pow(n_tokens, {alpha})"
    return f"""WITH src AS ({source_sql}),
per AS (
  SELECT {source_col} AS source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum({toks}) AS BIGINT) AS n_tokens
  FROM src GROUP BY {source_col}
),
scaled AS (SELECT *, {s_expr} AS s FROM per),
z AS (SELECT sum(s) AS z FROM scaled)
SELECT source, n_docs, n_tokens,
       round(s / z.z, 6) AS weight,
       round(s / z.z * {token_budget}, 2) AS exp_tokens,
       round(s / z.z * {token_budget} / n_tokens, 6) AS eff_epochs
FROM scaled, z
ORDER BY source
"""


def contrastive_pairs(
    docs: DataFrame,
    *,
    hi: float = 0.8,
    lo: float = 0.3,
    neg_keep: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mined training pairs for a similarity model — (left_id, right_id,
    jaccard, label): positives are near-dup candidates with exact
    shingle Jaccard >= ``hi``; HARD negatives are candidates from the
    SAME LSH buckets with Jaccard <= ``lo`` (they collided in the index,
    so they are exactly the confusable pairs a contrastive objective
    should separate), deterministically thinned to ``neg_keep`` by the
    Lehmer pair-hash (retry/resume-stable, no RNG state).

    Scale: rides ``dedup.minhash_dedup_pairs`` at threshold 0 — the
    bucket-capped candidate generator — so pair volume is the LSH
    index's, never all-pairs; the labeling pass is a map over that
    bounded pair set.
    """
    from .dedup import minhash_dedup_pairs

    cand = minhash_dedup_pairs(
        docs, threshold=0.0, text_col=text_col, id_col=id_col
    )
    key = det_hash(F.col("left_id") * F.lit(1_000_003) + F.col("right_id"))
    pos = cand.filter(F.col("jaccard") >= hi).withColumn(
        "label", F.lit(1).cast("long")
    )
    neg = (
        cand.filter(F.col("jaccard") <= lo)
        .filter(F.pmod(key, F.lit(1000)) < int(neg_keep * 1000))
        .withColumn("label", F.lit(0).cast("long"))
    )
    return (
        pos.unionByName(neg)
        .select("left_id", "right_id", "jaccard", "label")
        .orderBy(F.desc("label"), "left_id", "right_id")
    )


def contrastive_pairs_sql(
    *,
    hi: float = 0.8,
    lo: float = 0.3,
    neg_keep: float = 0.5,
    table: str = "documents",
) -> str:
    """DuckDB twin of ``contrastive_pairs`` — the shared minhash
    candidate oracle at threshold 0, same labeling and Lehmer
    pair-hash thinning."""
    from .dedup import minhash_oracle_sql

    pair_key = det_hash_sql("left_id * 1000003 + right_id")
    return f"""WITH cand AS (
  SELECT * FROM ({minhash_oracle_sql(threshold=0.0, table=table)}) t
)
SELECT left_id, right_id, jaccard, CAST(1 AS BIGINT) AS label
FROM cand WHERE jaccard >= {hi}
UNION ALL
SELECT left_id, right_id, jaccard, CAST(0 AS BIGINT) AS label
FROM cand WHERE jaccard <= {lo}
  AND ({pair_key}) % 1000 < {int(neg_keep * 1000)}
ORDER BY label DESC, left_id, right_id
"""


def dedup_channel_ablation(
    docs: DataFrame,
    *,
    minhash_threshold: float = 0.7,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Channel-ablation census of the three dedup channels — one row
    per channel and combination: (channel, n_removed) for 'exact',
    'minhash', 'simhash', the three pairwise intersections, and 'any'
    (the union a full dedup pass would drop). The decision table for
    WHICH channels a deployment runs: a channel whose removals are a
    subset of another's is pure cost.

    Scale: each removal set is the channel's own bounded output
    (non-keeper ids — near-dup-vocabulary sized, not corpus sized);
    intersections are semi-joins between those small sets.
    """
    from .dedup import exact_duplicates, simhash_near_dup_pairs

    exact_removed = (
        exact_duplicates(docs, text_col=text_col, id_col=id_col)
        .select(F.explode("doc_ids").alias("id"), "keep_id")
        .filter(F.col("id") != F.col("keep_id"))
        .select("id")
        .localCheckpoint()
    )
    mh_removed = (
        near_dup_members(
            docs, text_col=text_col, id_col=id_col, threshold=minhash_threshold
        )
        .select(F.col(id_col).alias("id"))
        .localCheckpoint()
    )
    sh_pairs = simhash_near_dup_pairs(
        docs, text_col=text_col, id_col=id_col, max_hamming=max_hamming
    )
    sh_cc = connected_components(
        sh_pairs.select(F.col("left_id").alias("src"),
                        F.col("right_id").alias("dst"))
    )
    sh_removed = (
        sh_cc.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("id"))
        .localCheckpoint()
    )
    sets = {
        "exact": exact_removed,
        "minhash": mh_removed,
        "simhash": sh_removed,
    }
    rows = []
    for name, df in sorted(sets.items()):
        rows.append(df.select(
            F.lit(name).alias("channel"), F.col("id")))
    for (na, a), (nb, b) in [
        (("exact", sets["exact"]), ("minhash", sets["minhash"])),
        (("exact", sets["exact"]), ("simhash", sets["simhash"])),
        (("minhash", sets["minhash"]), ("simhash", sets["simhash"])),
    ]:
        rows.append(
            a.join(b, "id", "left_semi")
            .select(F.lit(f"{na}_and_{nb}").alias("channel"), F.col("id"))
        )
    union_all = sets["exact"].unionByName(sets["minhash"]).unionByName(
        sets["simhash"]).distinct()
    rows.append(union_all.select(F.lit("any").alias("channel"), F.col("id")))
    tagged = rows[0]
    for r in rows[1:]:
        tagged = tagged.unionByName(r)
    return (
        tagged.groupBy("channel")
        .agg(F.count("*").cast("long").alias("n_removed"))
        .orderBy("channel")
    )


def dsir_importance_weights(
    docs: DataFrame,
    *,
    target_quality: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    reduced to unigram features) — (doc_id, n_tokens, dsir_weight):
    per-token-occurrence mean of ln p_target(t) − ln p_raw(t), where
    the TARGET unigram LM is fit on the high-quality subset
    (quality_col >= ``target_quality``, add-one smoothed over the raw
    vocabulary) and the RAW LM on the whole corpus. Positive weight =
    the document looks more like the curated target than like the
    crawl; sampling proportionally to exp(weight) is the DSIR
    resampling step. NULL weight for token-less docs (no signal).

    Plan: ONE occurrence explode (localCheckpoint'ed, reused by both
    LMs and the scoring join), two vocabulary-sized hash aggs, two
    1-row normalizer broadcasts, one token-keyed join back. The corpus
    shuffles only by token key; hot tokens partial-combine.
    """
    from .textquality import quality_col

    toks = F.expr(_TOKENS.format(c=text_col))
    occ = docs.select(F.col(id_col), F.explode(toks).alias("_tok")).localCheckpoint()
    raw = occ.groupBy("_tok").agg(F.count("*").alias("_cr"))
    raw_tot = raw.agg(
        F.sum("_cr").alias("_tr"), F.count("*").cast("long").alias("_v")
    )
    target_ids = docs.filter(quality_col(text_col) >= target_quality).select(
        F.col(id_col)
    )
    tfreq = (
        occ.join(target_ids, id_col, "left_semi")
        .groupBy("_tok")
        .agg(F.count("*").alias("_ct"))
    )
    t_tot = tfreq.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_tt"))
    scored = (
        occ.join(raw, "_tok")
        .join(tfreq, "_tok", "left")
        .na.fill({"_ct": 0})
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(t_tot))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                F.avg(
                    F.log((F.col("_ct") + 1.0) / (F.col("_tt") + F.col("_v")))
                    - F.log(F.col("_cr") / F.col("_tr"))
                ),
                6,
            ).alias("dsir_weight"),
        )
    )
    base = docs.select(F.col(id_col), F.size(toks).alias("_n"))
    return (
        base.join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.col("_n").cast("long")).alias("n_tokens"),
            F.col("dsir_weight"),
        )
        .orderBy(id_col)
    )


# ---------------------------------------------------------------------------
# crawl snapshot diffing: per-url capture drift
# ---------------------------------------------------------------------------

def capture_drift(
    pages: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-url content change rate across crawl snapshots: SimHash each
    capture, diff consecutive captures of the same url (lag window over
    ``warc_ts``), report how often and how much the page changed —
    (url, n_captures, n_changes, change_rate, mean_hamming).

    The crawl-scheduling signal: pages with change_rate ~0 need no
    re-crawl; high-drift pages are re-fetched often. Common Crawl's
    own index carries exactly this (url, capture-time) shape.

    100 TB shape: the SimHash is the shared groupBy kernel (one token
    explode + per-doc hash-agg, all codegen); the diff is a window
    PARTITIONED BY URL — a crawl has millions of urls with at most
    hundreds of captures each, so partitions are uniformly tiny and no
    global sort or hot key exists (contrast the WindowExec warning a
    partitionless window would emit). The final per-url agg reuses the
    same url-keyed shuffle — AQE coalesces the two stages.

    Reference parity: textgraphs has no temporal axis; this extends the
    same SimHash kernel dedup_simhash verifies to the (url, warc_ts)
    input contract of BASELINE.json.
    """
    from pyspark.sql import Window

    from .dedup import simhash

    fp = simhash(pages, text_col=text_col, id_col=id_col)
    caps = pages.select(id_col, url_col, ts_col).join(fp, id_col)
    w = Window.partitionBy(url_col).orderBy(ts_col, id_col)
    diffed = caps.select(
        F.col(url_col),
        F.bit_count(
            F.lag("simhash").over(w).bitwiseXOR(F.col("simhash"))
        ).alias("hamming"),
    )
    return (
        diffed.groupBy(url_col)
        .agg(
            F.count("*").alias("n_captures"),
            F.sum(F.when(F.col("hamming") > 0, 1).otherwise(0)).alias("n_changes"),
            F.round(
                F.sum(F.when(F.col("hamming") > 0, 1).otherwise(0))
                / (F.count("*") - F.lit(1)),
                6,
            ).alias("change_rate"),
            F.round(F.avg("hamming"), 6).alias("mean_hamming"),
        )
    )


# ---------------------------------------------------------------------------
# mirror-host detection: hosts replicating each other's content
# ---------------------------------------------------------------------------

def mirror_hosts(
    pages: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    min_shared: int = 2,
    max_hosts_per_hash: int = 20,
) -> DataFrame:
    """Host pairs that replicate the same content under different urls —
    (host_a, host_b, shared, n_a, n_b, overlap) where ``shared`` counts
    distinct content hashes both hosts carry and ``overlap`` = shared /
    min(|a|, |b|). The crawl-curation signal: a mirror farm contributes
    |hosts| copies of every page, so dedup budgets and per-source caps
    should treat the pair as ONE source.

    100 TB shape: (1) one map-only (host, md5(text)) projection +
    distinct; (2) a hash-keyed group to gate on 1 < hosts-per-hash <=
    ``max_hosts_per_hash`` — the cap bounds the self-join fanout the way
    every blocking channel here bounds candidate pairs (a snippet syndicated
    to 10k hosts is boilerplate, not mirroring, and is EXCLUDED — loudly
    by this documented gate, not silently); (3) a hash-keyed self-join
    emitting at most C(cap, 2) pairs per hash; (4) a host-pair hash-agg
    (output is host-vocabulary-sized, tiny). No step touches doc pairs.
    """
    hh = (
        pages.select(
            host_col(url_col).alias("host"),
            F.md5(F.col(text_col)).alias("content_hash"),
        )
        .where(F.col("host").isNotNull())
        .distinct()
    )
    gated = hh.join(
        hh.groupBy("content_hash")
        .agg(F.count("*").alias("n_hosts"))
        .where(
            (F.col("n_hosts") > 1)
            & (F.col("n_hosts") <= F.lit(int(max_hosts_per_hash)))
        )
        .select("content_hash"),
        "content_hash",
    )
    pairs = (
        gated.alias("a")
        .join(
            gated.alias("b"),
            (F.col("a.content_hash") == F.col("b.content_hash"))
            & (F.col("a.host") < F.col("b.host")),
        )
        .select(F.col("a.host").alias("host_a"), F.col("b.host").alias("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= F.lit(int(min_shared)))
    )
    sizes = hh.groupBy("host").agg(F.count("*").alias("n_hashes"))
    return (
        pairs.join(sizes.withColumnRenamed("host", "host_a").withColumnRenamed("n_hashes", "n_a"), "host_a")
        .join(sizes.withColumnRenamed("host", "host_b").withColumnRenamed("n_hashes", "n_b"), "host_b")
        .select(
            "host_a", "host_b", "shared", "n_a", "n_b",
            F.round(F.col("shared") / F.least("n_a", "n_b"), 6).alias("overlap"),
        )
    )


def mirror_hosts_oracle_sql(
    source_sql: str,
    *,
    min_shared: int = 2,
    max_hosts_per_hash: int = 20,
) -> str:
    """DuckDB twin of ``mirror_hosts`` over ``source_sql`` (url, text)."""
    host = _host_sql("url")
    return f"""
WITH src AS ({source_sql}),
hh AS (
  SELECT DISTINCT {host} AS host, md5(text) AS content_hash
  FROM src WHERE url IS NOT NULL
),
gate AS (
  SELECT content_hash FROM hh GROUP BY content_hash
  HAVING count(*) > 1 AND count(*) <= {int(max_hosts_per_hash)}
),
g AS (SELECT hh.* FROM hh JOIN gate USING (content_hash)),
pairs AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared
  FROM g a JOIN g b ON a.content_hash = b.content_hash AND a.host < b.host
  GROUP BY a.host, b.host
  HAVING count(*) >= {int(min_shared)}
),
sizes AS (SELECT host, count(*) AS n_hashes FROM hh GROUP BY host)
SELECT host_a, host_b, shared, sa.n_hashes AS n_a, sb.n_hashes AS n_b,
       round(shared * 1.0 / least(sa.n_hashes, sb.n_hashes), 6) AS overlap
FROM pairs JOIN sizes sa ON sa.host = pairs.host_a
           JOIN sizes sb ON sb.host = pairs.host_b
"""


def mirror_farms(
    pages: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    min_shared: int = 2,
    max_hosts_per_hash: int = 20,
) -> DataFrame:
    """Mirror FARMS — the curation action over ``mirror_hosts``: close
    the host-pair mirror graph transitively and emit one group per farm,
    (farm_id, n_hosts, hosts), farm_id = lexicographic min member host.
    Per-source caps and dedup budgets then treat the whole farm as ONE
    source instead of |hosts| independent ones.

    100 TB shape: the pair generator is ``mirror_hosts`` (hash-gated,
    never doc pairs); the closure is the shared 128-bit-struct-id CC
    kernel (components.py large/small-star) over a HOST-pair graph —
    vocabulary-sized input, millions of nodes at worst — followed by one
    farm-keyed hash-agg.
    """
    from .components import components_over_keys

    pairs = mirror_hosts(
        pages, url_col=url_col, text_col=text_col,
        min_shared=min_shared, max_hosts_per_hash=max_hosts_per_hash,
    ).select("host_a", "host_b")
    comp = components_over_keys(pairs, left="host_a", right="host_b")
    return (
        comp.groupBy(F.col("cluster_id").alias("farm_id"))
        .agg(
            F.count("*").alias("n_hosts"),
            F.array_join(F.sort_array(F.collect_list("entity_key")), "|").alias("hosts"),
        )
    )


def mirror_farms_oracle_sql(
    source_sql: str,
    *,
    min_shared: int = 2,
    max_hosts_per_hash: int = 20,
) -> str:
    """DuckDB twin of ``mirror_farms``: the mirror-pair SQL closed by the
    same recursive reach CTE as the flagship ER oracle, min-string farm
    labels."""
    inner = mirror_hosts_oracle_sql(
        source_sql, min_shared=min_shared, max_hosts_per_hash=max_hosts_per_hash
    )
    return f"""WITH RECURSIVE
mpairs AS MATERIALIZED ({inner}),
edgesu AS MATERIALIZED (
  SELECT host_a AS a, host_b AS b FROM mpairs
  UNION SELECT host_b, host_a FROM mpairs
),
nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM edgesu),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, x.r FROM reach x JOIN edgesu e ON e.a = x.node
),
comp AS MATERIALIZED (SELECT node, min(r) AS farm_id FROM reach GROUP BY node)
SELECT farm_id, count(*) AS n_hosts,
       array_to_string(list_sort(list(node)), '|') AS hosts
FROM comp GROUP BY farm_id
"""


def crawl_delta(
    pages: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot-over-snapshot crawl delta — per capture timestamp:
    (snapshot_ts, n_urls, n_new, n_changed, n_unchanged, change_rate).
    ``capture_drift`` answers "how volatile is THIS url"; this is the
    crawl-ops rollup over the whole snapshot: how much of each crawl was
    first-seen, how much re-fetched content actually changed (md5 of the
    text differs from the SAME url's previous capture), and how much was
    wasted re-downloading identical bytes — the number a crawl scheduler
    tunes revisit policy against. change_rate = changed / revisited
    (NULL for an all-new snapshot).

    100 TB shape: one md5 per row (map-only), one lag window PARTITIONED
    BY URL (millions of urls, captures-per-url partitions — uniformly
    tiny, no hot key), then a snapshot-keyed hash agg over snapshot-count
    rows of output. NULL urls carry no identity and are dropped.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(url_col).orderBy(ts_col)
    d = (
        pages.filter(F.col(url_col).isNotNull())
        .select(
            F.col(url_col), F.col(ts_col),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_h"),
        )
        .withColumn("_prev", F.lag("_h").over(w))
    )
    status = (
        F.when(F.col("_prev").isNull(), F.lit("new"))
        .when(F.col("_prev") != F.col("_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    agg = d.select(F.col(ts_col).alias("snapshot_ts"), status.alias("_s")).groupBy(
        "snapshot_ts"
    ).agg(
        F.count("*").alias("n_urls"),
        F.sum((F.col("_s") == "new").cast("int")).alias("n_new"),
        F.sum((F.col("_s") == "changed").cast("int")).alias("n_changed"),
        F.sum((F.col("_s") == "unchanged").cast("int")).alias("n_unchanged"),
    )
    revisited = F.col("n_changed") + F.col("n_unchanged")
    return agg.select(
        "snapshot_ts", "n_urls", "n_new", "n_changed", "n_unchanged",
        F.when(revisited > 0, F.round(F.col("n_changed") / revisited, 6))
        .alias("change_rate"),
    )


def crawl_delta_oracle_sql(
    source_sql: str,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> str:
    """DuckDB twin of ``crawl_delta`` — same md5-over-text identity and
    per-url lag semantics."""
    return f"""
WITH d AS MATERIALIZED (
  SELECT {url_col} AS url, {ts_col} AS snapshot_ts,
         md5(coalesce({text_col}, '')) AS h,
         lag(md5(coalesce({text_col}, ''))) OVER (
           PARTITION BY {url_col} ORDER BY {ts_col}) AS prev
  FROM ({source_sql}) WHERE {url_col} IS NOT NULL
),
agg AS (
  SELECT snapshot_ts, count(*) AS n_urls,
         CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> h THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         CAST(sum(CASE WHEN prev = h THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
  FROM d GROUP BY snapshot_ts
)
SELECT snapshot_ts, n_urls, n_new, n_changed, n_unchanged,
       CASE WHEN n_changed + n_unchanged > 0
            THEN round(n_changed * 1.0 / (n_changed + n_unchanged), 6)
            END AS change_rate
FROM agg
"""


def crawler_traps(
    pages: DataFrame,
    *,
    url_col: str = "url",
    min_urls: int = 10,
    max_templates_ratio: float = 0.2,
) -> DataFrame:
    """Crawler-trap detection — per host: (host, n_urls, n_templates,
    urls_per_template, trap_score, is_trap). A trap (calendar pages,
    session-id paths, faceted-search grids) manufactures unbounded
    DISTINCT urls from a handful of PATH TEMPLATES; templating the path
    (digit runs → ``N``, long hex runs → ``H``) collapses them, so a
    host whose template count stays tiny while its url count explodes
    is generating urls, not content. ``trap_score`` = 1 −
    n_templates/n_urls; ``is_trap`` gates on ``min_urls`` (evidence
    floor) and ``max_templates_ratio``.

    This complements ``host_stats``: dup_rate catches the SAME url
    re-fetched; a trap serves infinitely many urls exactly once each,
    so dup_rate stays 0 while trap_score → 1. The crawl frontier cuts
    trap hosts before they eat the fetch budget — at 10^12 docs the
    difference between a capped and uncapped trap host is the crawl.

    Shape: template normalization is map-only codegen (two
    regexp_replace); the rollup is one host-keyed agg with per-host
    distinct counts (sharded by the same key, partial agg absorbs head
    hosts). NULL urls carry no host and are dropped.
    """
    path = F.split_part(
        F.regexp_replace(F.col(url_col), "^https?://[^/]*", ""),
        F.lit("?"), F.lit(1),
    )
    template = F.regexp_replace(
        F.regexp_replace(path, "[0-9a-f]{8,}", "H"), "[0-9]+", "N"
    )
    d = pages.filter(F.col(url_col).isNotNull()).select(
        host_col(url_col).alias("host"),
        F.col(url_col).alias("u"),
        template.alias("t"),
    )
    agg = d.groupBy("host").agg(
        F.countDistinct("u").alias("n_urls"),
        F.countDistinct("t").alias("n_templates"),
    )
    score = F.round(1.0 - F.col("n_templates") / F.col("n_urls"), 6)
    return agg.select(
        "host", "n_urls", "n_templates",
        F.round(F.col("n_urls") / F.col("n_templates"), 6).alias("urls_per_template"),
        score.alias("trap_score"),
        (
            (F.col("n_urls") >= int(min_urls))
            & (F.col("n_templates") / F.col("n_urls") <= float(max_templates_ratio))
        ).alias("is_trap"),
    )


def crawler_traps_oracle_sql(
    source_sql: str,
    *,
    url_col: str = "url",
    min_urls: int = 10,
    max_templates_ratio: float = 0.2,
) -> str:
    """DuckDB twin of ``crawler_traps`` — same template normalization
    (hex-run collapse BEFORE digit collapse) and gates."""
    h = _host_sql(url_col)
    return f"""
WITH d AS MATERIALIZED (
  SELECT {h} AS host, {url_col} AS u,
         regexp_replace(
           regexp_replace(
             split_part(regexp_replace({url_col}, '^https?://[^/]*', ''), '?', 1),
             '[0-9a-f]{{8,}}', 'H', 'g'),
           '[0-9]+', 'N', 'g') AS t
  FROM ({source_sql}) WHERE {url_col} IS NOT NULL
),
agg AS (
  SELECT host, count(DISTINCT u) AS n_urls,
         count(DISTINCT t) AS n_templates
  FROM d GROUP BY host
)
SELECT host, n_urls, n_templates,
       round(n_urls * 1.0 / n_templates, 6) AS urls_per_template,
       round(1.0 - n_templates * 1.0 / n_urls, 6) AS trap_score,
       (n_urls >= {int(min_urls)}
        AND n_templates * 1.0 / n_urls <= {float(max_templates_ratio)}) AS is_trap
FROM agg
"""


def resolve_redirects(
    pages: DataFrame,
    *,
    url_col: str = "url",
    redirect_col: str = "redirect_to",
    max_hops: int = 32,
) -> DataFrame:
    """Redirect-chain resolution — (url, final_url, n_hops, is_cycle).

    Input is the crawl's redirect map: one row per url, ``redirect_col``
    NULL for landing pages. Each url resolves to the landing url its
    chain terminates at, with the exact hop count; chains that never
    terminate within ``max_hops`` (redirect cycles, or pages feeding
    into one) come back ``is_cycle = true`` with NULL final/hops. A
    target with no row of its own (off-crawl redirect) is treated as a
    terminal — the chain lands there.

    Scale shape: **pointer doubling**, not chain walking. Each round
    self-joins the state table on the current pointer, so after round k
    every url knows its 2^k-th successor — ceil(log2(max_hops)) rounds
    total, each one vocabulary-sized shuffle join keyed by url. A naive
    per-hop walk is O(longest chain) sequential rounds and, at 10^12
    urls with spam chains hundreds deep, turns the resolver into the
    crawl's critical path; doubling caps it at ~5 rounds for
    max_hops=32. Settled rows are split out of the join's left side
    each round, so late rounds shuffle only the unresolved tail.
    ``localCheckpoint`` truncates the iterative lineage (batch-only,
    same contract as connected_components).

    Mirrors the reference's transitive entity-consolidation idea
    (textgraphs resolves alias chains to canonical IRIs) applied to the
    crawl-ops domain.
    """
    import math

    state = pages.select(
        F.col(url_col).alias("url"),
        F.coalesce(F.col(redirect_col), F.col(url_col)).alias("ptr"),
        F.when(F.col(redirect_col).isNull(), F.lit(0))
        .otherwise(F.lit(1)).cast("long").alias("hops"),
        F.col(redirect_col).isNull().alias("done"),
    ).localCheckpoint()

    # +1: the done flag lags the pointer — a node at distance d has
    # ptr == terminal after ceil(log2(d)) rounds but only OBSERVES its
    # target's done flag on the following round's join
    rounds = max(1, math.ceil(math.log2(max(2, max_hops)))) + 1
    for _ in range(rounds):
        active = state.filter(~F.col("done"))
        if active.isEmpty():
            break
        lookup = state.select(
            F.col("url").alias("t_url"), F.col("ptr").alias("t_ptr"),
            F.col("hops").alias("t_hops"), F.col("done").alias("t_done"),
        )
        stepped = active.join(
            lookup, active["ptr"] == lookup["t_url"], "left"
        ).select(
            "url",
            # off-crawl target (no row): the pointer itself is terminal
            F.when(F.col("t_url").isNull(), F.col("ptr"))
            .otherwise(F.col("t_ptr")).alias("ptr"),
            F.when(F.col("t_url").isNull(), F.col("hops"))
            .otherwise(F.col("hops") + F.col("t_hops")).alias("hops"),
            (F.col("t_url").isNull() | F.col("t_done")).alias("done"),
        )
        state = (
            state.filter(F.col("done")).unionByName(stepped).localCheckpoint()
        )

    resolved = F.col("done") & (F.col("hops") <= int(max_hops))
    return state.select(
        "url",
        F.when(resolved, F.col("ptr")).alias("final_url"),
        F.when(resolved, F.col("hops")).alias("n_hops"),
        (~resolved).alias("is_cycle"),
    )


def resolve_redirects_oracle_sql(
    source_sql: str,
    *,
    url_col: str = "url",
    redirect_col: str = "redirect_to",
    max_hops: int = 32,
) -> str:
    """DuckDB twin of ``resolve_redirects`` — a bounded recursive-CTE
    walk (one hop per recursion level; fine at fixture scale, which is
    exactly why the engine does NOT work this way). Same terminal
    semantics: NULL target lands at the current node, an off-crawl
    target lands one hop past it, anything unresolved within
    ``max_hops`` is a cycle."""
    return f"""
WITH RECURSIVE pages AS MATERIALIZED ({source_sql}),
walk AS (
  SELECT {url_col} AS url, {url_col} AS cur, {redirect_col} AS nxt, 0 AS hops
  FROM pages
  UNION ALL
  SELECT w.url, w.nxt AS cur, p.{redirect_col} AS nxt, w.hops + 1
  FROM walk w JOIN pages p ON w.nxt = p.{url_col}
  WHERE w.nxt IS NOT NULL AND w.hops < {int(max_hops)}
),
landed AS (
  SELECT url, cur AS final_url, hops AS n_hops FROM walk WHERE nxt IS NULL
  UNION ALL
  SELECT url, nxt AS final_url, hops + 1 AS n_hops FROM walk
  WHERE nxt IS NOT NULL AND hops + 1 <= {int(max_hops)}
    AND nxt NOT IN (SELECT {url_col} FROM pages)
)
SELECT p.{url_col} AS url, l.final_url, CAST(l.n_hops AS BIGINT) AS n_hops,
       l.url IS NULL AS is_cycle
FROM pages p LEFT JOIN landed l ON p.{url_col} = l.url
"""


def soft404_hosts(
    pages: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    min_urls: int = 5,
    dominant_share: float = 0.3,
) -> DataFrame:
    """Soft-404 / placeholder-template census — per host: (host, n_urls,
    n_texts, dominant_share, is_suspect). A host that answers many
    DISTINCT urls with the SAME body (an HTTP-200 "not found" page, a
    parked-domain lander, a paywall interstitial) poisons both the
    crawl (every frontier url "succeeds") and dedup stats (one giant
    exact-dup cluster that is really an error page). ``dominant_share``
    is the fraction of the host's urls carrying its single most common
    body; ``is_suspect`` gates on ``min_urls`` (evidence floor) and the
    share threshold.

    Complements the other host-hygiene channels: mirror_hosts is
    CROSS-host same-content, crawler_traps is url-template explosion,
    this is INTRA-host body collapse. Shape: map-only (host, md5(text))
    projection, one (host, hash)-keyed distinct-url count, one
    host-keyed rollup whose argmax rides ``max(struct(cnt, hash))`` —
    no window, no sort, output host-vocabulary-sized. Deterministic
    tie-break: highest hash string wins (mirrored in the oracle).
    """
    d = pages.where(F.col(url_col).isNotNull()).select(
        host_col(url_col).alias("host"),
        F.col(url_col).alias("u"),
        F.md5(F.col(text_col)).alias("h"),
    )
    per_hash = d.groupBy("host", "h").agg(F.countDistinct("u").alias("cnt"))
    per_host = per_hash.groupBy("host").agg(
        F.sum("cnt").alias("n_urls"),
        F.count("*").alias("n_texts"),
        F.max(F.struct("cnt", "h")).alias("_top"),
    )
    share = F.round(F.col("_top.cnt") / F.col("n_urls"), 6)
    return per_host.select(
        "host", "n_urls", "n_texts",
        share.alias("dominant_share"),
        (
            (F.col("n_urls") >= int(min_urls))
            & (F.col("_top.cnt") / F.col("n_urls") >= float(dominant_share))
        ).alias("is_suspect"),
    )


def soft404_hosts_oracle_sql(
    source_sql: str,
    *,
    url_col: str = "url",
    text_col: str = "text",
    min_urls: int = 5,
    dominant_share: float = 0.3,
) -> str:
    """DuckDB twin of ``soft404_hosts`` — same gates; the argmax
    tie-break (cnt DESC, hash DESC) mirrors Spark's struct max."""
    h = _host_sql(url_col)
    return f"""
WITH d AS MATERIALIZED (
  SELECT {h} AS host, {url_col} AS u, md5({text_col}) AS h
  FROM ({source_sql}) WHERE {url_col} IS NOT NULL
),
per_hash AS (
  SELECT host, h, count(DISTINCT u) AS cnt FROM d GROUP BY host, h
),
ranked AS (
  SELECT host, cnt,
         row_number() OVER (PARTITION BY host ORDER BY cnt DESC, h DESC) AS rn
  FROM per_hash
),
tot AS (
  SELECT host, CAST(sum(cnt) AS BIGINT) AS n_urls, count(*) AS n_texts
  FROM per_hash GROUP BY host
)
SELECT t.host, t.n_urls, t.n_texts,
       round(r.cnt * 1.0 / t.n_urls, 6) AS dominant_share,
       (t.n_urls >= {int(min_urls)}
        AND r.cnt * 1.0 / t.n_urls >= {float(dominant_share)}) AS is_suspect
FROM tot t JOIN ranked r ON t.host = r.host AND r.rn = 1
"""


def host_lang_entropy(
    docs: DataFrame,
    *,
    host_col_name: str = "source",
    lang_col: str = "lang",
    min_docs: int = 10,
    max_entropy: float = 1.5,
) -> DataFrame:
    """Per-host language-mix census — (host, n_docs, n_langs,
    top_share, lang_entropy, is_mixed). A legitimate site serves one
    or two languages; machine-translation spam farms serve the SAME
    content in dozens, so high per-host Shannon entropy over the
    language column is a cheap MT-farm signal (the curation heuristic
    CCNet-style pipelines apply before any per-document scoring).

    Shape: one (host, lang)-keyed hash agg (partial map-side combine),
    then a host-keyed rollup over the per-lang counts — both
    vocabulary-sized; the entropy is computed from the count list with
    ``aggregate`` over a collect_list that is at most |languages| long
    per host (bounded, ~10^2), never per-document data.
    """
    per_lang = docs.groupBy(
        F.col(host_col_name).alias("host"), F.col(lang_col).alias("lg")
    ).agg(F.count("*").alias("cnt"))
    per_host = per_lang.groupBy("host").agg(
        F.sum("cnt").alias("n_docs"),
        F.count("*").alias("n_langs"),
        F.max("cnt").alias("_top"),
        F.collect_list("cnt").alias("_cnts"),
    )
    ent = -F.aggregate(
        "_cnts",
        F.lit(0.0),
        lambda acc, c: acc
        + (c / F.col("n_docs")) * F.log(c / F.col("n_docs")),
    )
    return per_host.select(
        "host", "n_docs", "n_langs",
        F.round(F.col("_top") / F.col("n_docs"), 6).alias("top_share"),
        F.round(ent, 6).alias("lang_entropy"),
        (
            (F.col("n_docs") >= int(min_docs))
            & (F.round(ent, 6) > float(max_entropy))
        ).alias("is_mixed"),
    )


def host_lang_entropy_select(
    source_sql: str,
    *,
    host_col_name: str = "source",
    lang_col: str = "lang",
    min_docs: int = 10,
    max_entropy: float = 1.5,
) -> str:
    """DuckDB twin of ``host_lang_entropy`` (natural log, like Spark's
    ``log``; gate applied to the ROUNDED entropy on both sides so a
    sub-1e-6 float divergence cannot flip the flag)."""
    return f"""
WITH per_lang AS (
  SELECT {host_col_name} AS host, {lang_col} AS lg, count(*) AS cnt
  FROM ({source_sql}) GROUP BY 1, 2
),
per_host AS (
  SELECT host, CAST(sum(cnt) AS BIGINT) AS n_docs, count(*) AS n_langs,
         max(cnt) AS top_cnt,
         round(-sum((cnt * 1.0 / (SELECT sum(p2.cnt) FROM per_lang p2 WHERE p2.host = per_lang.host))
                    * ln(cnt * 1.0 / (SELECT sum(p2.cnt) FROM per_lang p2 WHERE p2.host = per_lang.host))), 6)
           AS lang_entropy
  FROM per_lang GROUP BY host
)
SELECT host, n_docs, n_langs,
       round(top_cnt * 1.0 / n_docs, 6) AS top_share,
       lang_entropy,
       (n_docs >= {int(min_docs)} AND lang_entropy > {float(max_entropy)}) AS is_mixed
FROM per_host
"""


def crawl_policy(
    traps: DataFrame,
    soft404: DataFrame,
    ranks: DataFrame,
    *,
    high_rank: float = 0.1,
) -> DataFrame:
    """The curation ACTION over the host-hygiene censuses — per host:
    (host, is_trap, is_soft404, rank, verdict). Joins the three
    host-keyed signal tables (``crawler_traps``, ``soft404_hosts``,
    ``host_link_rank``) into the frontier's per-host fetch policy:

    * ``block`` — url-template explosion OR body collapse: stop
      spending fetch budget on manufactured urls / error-page bodies.
    * ``boost`` — clean host with link-authority rank ≥ ``high_rank``:
      the over-sample candidates for source weighting.
    * ``normal`` — everything else.

    A host absent from a signal table simply lacks that signal (flags
    default false, rank 0.0) — full outer joins, so no census has to be
    complete before the policy can run. Shape: all three inputs are
    host-vocabulary-sized rollups already; two host-keyed joins and a
    map-only CASE. The corpus itself is never touched here.
    """
    t = traps.select("host", "is_trap")
    s = soft404.select("host", F.col("is_suspect").alias("is_soft404"))
    r = ranks.select("host", "rank")
    j = (
        t.join(s, "host", "full")
        .join(r, "host", "full")
        .select(
            "host",
            F.coalesce("is_trap", F.lit(False)).alias("is_trap"),
            F.coalesce("is_soft404", F.lit(False)).alias("is_soft404"),
            F.coalesce("rank", F.lit(0.0)).alias("rank"),
        )
    )
    verdict = (
        F.when(F.col("is_trap") | F.col("is_soft404"), F.lit("block"))
        .when(F.col("rank") >= float(high_rank), F.lit("boost"))
        .otherwise(F.lit("normal"))
    )
    return j.select("host", "is_trap", "is_soft404", "rank",
                    verdict.alias("verdict"))


def crawl_policy_oracle_sql(
    traps_sql: str,
    soft404_sql: str,
    ranks_sql: str,
    *,
    high_rank: float = 0.1,
) -> str:
    """DuckDB twin of ``crawl_policy`` — full-join composition of the
    three census twins (pass the SAME generated SQL the individual
    oracles use, so the composition cannot drift from its parts)."""
    return f"""
WITH t AS MATERIALIZED (SELECT host, is_trap FROM ({traps_sql})),
s AS MATERIALIZED (SELECT host, is_suspect AS is_soft404 FROM ({soft404_sql})),
r AS MATERIALIZED (SELECT host, rank FROM ({ranks_sql})),
j AS (
  SELECT coalesce(t.host, s.host, r.host) AS host,
         coalesce(t.is_trap, false) AS is_trap,
         coalesce(s.is_soft404, false) AS is_soft404,
         coalesce(r.rank, 0.0) AS rank
  FROM t FULL JOIN s ON t.host = s.host
         FULL JOIN r ON coalesce(t.host, s.host) = r.host
)
SELECT host, is_trap, is_soft404, rank,
       CASE WHEN is_trap OR is_soft404 THEN 'block'
            WHEN rank >= {float(high_rank)} THEN 'boost'
            ELSE 'normal' END AS verdict
FROM j
"""


def contaminated_docs_bloom(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Output-identical scale twin of ``contaminated_docs``: the
    broadcast of the raw eval-gram TABLE (gated at ~10^6 grams) is
    replaced by a hand-built **broadcast Bloom bitmap** — ``m_bits``
    bits packed into an ``m_bits/64``-entry long map in ONE row
    (128 KiB at the default 2^20), which broadcasts at ANY eval-suite
    size. Corpus grams probe the bitmap map-side (k xxhash64 probes,
    pure codegen bit tests — no Python, no join); only Bloom survivors
    reach the exact verify join against the true eval grams, so the
    gram-keyed shuffle carries the survivor set (true matches + the
    ~(1-e^(-kn/m))^k false-positive sliver), not the corpus. No false
    negatives exist, and the verify kills every false positive — the
    hash-green against the EXACT oracle is the losslessness proof (the
    oracle is the unfiltered join, so any pruned-away match would show
    as a missing row).

    Spark's own ``bloom_filter_agg`` is optimizer-internal (not a
    public routine), hence the explicit build: probe → bit word/mask →
    ``bit_or`` per word → one map row.
    """
    toks = F.expr(_TOKENS.format(c=text_col))
    eval_grams = (
        eval_docs.select(toks.alias("_toks"))
        .select(F.explode(_gram_col(n)).alias("gram"))
        .distinct()
    )

    def _probe_sql(s):
        # F.shiftleft requires a literal shift amount, so the bit math
        # stays in SQL-expr form (all codegen either way)
        return f"pmod(xxhash64({s}, gram), {int(m_bits)}L)"

    probes = eval_grams.select(
        F.explode(F.array(
            *[F.expr(_probe_sql(s)) for s in range(k)])).alias("idx")
    )
    bitmap = (
        probes.select(
            (F.col("idx") / 64).cast("long").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 64 AS INT))")
            .alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bm"))
        .groupBy()
        .agg(F.map_from_arrays(
            F.collect_list("w"), F.collect_list("bm")).alias("bloom"))
    )
    corpus_grams = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col),
                F.explode(F.array_distinct(_gram_col(n))).alias("gram"))
    )
    probed = corpus_grams.crossJoin(F.broadcast(bitmap))
    hit_sql = " AND ".join(
        f"(coalesce(try_element_at(bloom, CAST({_probe_sql(s)} / 64 AS BIGINT)), 0L)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST({_probe_sql(s)} % 64 AS INT)))"
        f" = shiftleft(CAST(1 AS BIGINT), CAST({_probe_sql(s)} % 64 AS INT))"
        for s in range(k)
    )
    survivors = probed.filter(F.expr(hit_sql)).select(id_col, "gram")
    # exact verify: deliberately NOT broadcast — at real eval-suite
    # scale the gram table exceeds the broadcast gate; the shuffle is
    # survivor-sized either way
    verified = survivors.join(eval_grams, "gram", "left_semi")
    totals = corpus_grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    matched = verified.groupBy(id_col).agg(F.count("*").alias("n_matched"))
    return matched.join(totals, id_col).select(
        F.col(id_col), "n_grams", "n_matched",
        F.round(F.col("n_matched") / F.col("n_grams"), 6).alias("overlap_frac"),
    )


def frontier_schedule(
    candidates: DataFrame,
    policy: DataFrame,
    *,
    url_col: str = "url",
) -> DataFrame:
    """Politeness scheduling of the crawl frontier — (url, host, wave):
    candidate urls joined to the per-host ``crawl_policy`` verdicts,
    ``block`` hosts dropped, and each host's surviving urls numbered
    1..n in deterministic url order. ``wave`` is the fetch round under
    a one-request-per-host-per-wave politeness rule, with ``boost``
    hosts interleaved at twice the rate (their k-th url goes out in
    wave ceil(k/2)) — the frontier emits wave w by filtering
    ``wave = w``, no global sort anywhere.

    Scale shape: one host-keyed join against the vocabulary-sized
    policy table (hosts absent from the policy default to ``normal``),
    then per-host numbering via rankops.grouped_rank — exact window
    semantics with NO hot-host single-task funnel (a head domain with
    10^8 frontier urls is the normal case, not the edge case).
    """
    from .rankops import grouped_rank

    d = candidates.where(F.col(url_col).isNotNull()).select(
        F.col(url_col).alias("url"), host_col(url_col).alias("host")
    )
    pol = policy.select("host", "verdict")
    joined = (
        d.join(pol, "host", "left")
        .withColumn("verdict", F.coalesce("verdict", F.lit("normal")))
        .filter(F.col("verdict") != "block")
    )
    ranked = grouped_rank(joined, "host", [F.asc("url")], rank_col="rk")
    wave = F.when(
        F.col("verdict") == "boost", F.ceil(F.col("rk") / 2)
    ).otherwise(F.col("rk")).cast("long")
    return ranked.select("url", "host", wave.alias("wave"))


def frontier_schedule_oracle_sql(
    candidates_sql: str,
    policy_sql: str,
    *,
    url_col: str = "url",
) -> str:
    """DuckDB twin of ``frontier_schedule`` — plain window row_number
    (the oracle may funnel; the engine must not)."""
    h = _host_sql(url_col)
    return f"""
WITH cand AS MATERIALIZED (
  SELECT {url_col} AS url, {h} AS host
  FROM ({candidates_sql}) WHERE {url_col} IS NOT NULL
),
pol AS (SELECT host, verdict FROM ({policy_sql})),
joined AS (
  SELECT cand.url, cand.host, coalesce(pol.verdict, 'normal') AS verdict
  FROM cand LEFT JOIN pol ON cand.host = pol.host
  WHERE coalesce(pol.verdict, 'normal') <> 'block'
),
ranked AS (
  SELECT url, host, verdict,
         row_number() OVER (PARTITION BY host ORDER BY url ASC) AS rk
  FROM joined
)
SELECT url, host,
       CAST(CASE WHEN verdict = 'boost' THEN ceil(rk / 2.0) ELSE rk END
            AS BIGINT) AS wave
FROM ranked
"""


def plan_shards(
    docs: DataFrame,
    *,
    target_bytes: int = 1 << 20,
    source_col: str = "source",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Output-shard planning — (doc_id, source, shard_idx): assign each
    document to a byte-balanced shard WITHIN its source, shard_idx =
    floor(exclusive-prefix-bytes / target_bytes) in doc_id order. The
    "write 100 TB as right-sized files" step: a writer partitioned by
    (source, shard_idx) emits ~target_bytes files instead of one
    skew-shaped file per source, and the assignment is a pure function
    of the table (rerun-stable, unlike anything derived from task
    layout). Integer arithmetic end to end — no float crosses the
    engine boundary.

    Scale shape: rides rankops.grouped_cumsum (range-partition +
    per-(partition, source) offsets), so a head source with 10^9 docs
    never funnels into one window task.
    """
    from .rankops import grouped_cumsum

    d = docs.select(F.col(id_col), F.col(source_col), F.col(size_col))
    c = grouped_cumsum(d, source_col, [F.asc(id_col)], size_col,
                       cumsum_col="_cum")
    return c.select(
        id_col, source_col,
        F.floor((F.col("_cum") - F.col(size_col)) / int(target_bytes))
        .cast("long").alias("shard_idx"),
    )


def plan_shards_select(
    source_sql: str,
    *,
    target_bytes: int = 1 << 20,
    source_col: str = "source",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> str:
    """DuckDB twin of ``plan_shards`` — plain window cumsum (the oracle
    may funnel; the engine must not)."""
    return f"""
SELECT {id_col}, {source_col},
       CAST(floor((cum - {size_col}) * 1.0 / {int(target_bytes)}) AS BIGINT)
         AS shard_idx
FROM (
  SELECT {id_col}, {source_col}, {size_col},
         sum({size_col}) OVER (PARTITION BY {source_col} ORDER BY {id_col}
                               ROWS UNBOUNDED PRECEDING) AS cum
  FROM ({source_sql})
)
"""


def dsir_resample(
    docs: DataFrame,
    *,
    target_quality: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The DSIR resampling ACTION over ``dsir_importance_weights`` —
    (doc_id, dsir_weight, keep_prob_micro, kept): deterministic
    Bernoulli keep with probability min(1, exp(weight)), discretized to
    MICRO-units so the keep decision is an INTEGER comparison on both
    engine and oracle: ``keep_prob_micro = floor(exp(round(w, 6))·10^6)``
    (capped at 10^6) against ``pmod(det_hash(doc_id), 10^6)``. The
    discretization is part of the operator's DEFINITION, not an
    implementation detail — a float inequality at the keep boundary
    would be last-ulp engine-dependent; the integer form is exact.
    Token-less docs (NULL weight) are dropped: no signal, no sample.
    Deterministic in the id, so the sample is identical across retries,
    partitionings, and resumed runs — the deterministic_sample contract
    applied to importance weights.

    Shape: dsir_importance_weights' one-explode/two-agg plan plus a
    map-only hash + CASE. Nothing new shuffles.
    """
    w = dsir_importance_weights(
        docs, target_quality=target_quality,
        text_col=text_col, id_col=id_col,
    ).filter(F.col("dsir_weight").isNotNull())
    prob = F.least(
        F.lit(1_000_000).cast("long"),
        F.floor(F.exp(F.round("dsir_weight", 6)) * 1_000_000).cast("long"),
    )
    key = F.pmod(det_hash(F.col(id_col)), F.lit(1_000_000))
    return w.select(
        id_col, "dsir_weight",
        prob.alias("keep_prob_micro"),
        (key < prob).alias("kept"),
    )


def latest_captures(
    captures: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Snapshot compaction — keep each url's LATEST capture row (SCD-1:
    the crawl table most consumers actually want, vs the full capture
    history the fetcher writes). Deterministic argmax: ties on the
    timestamp break by the remaining columns' struct order, so the
    survivor is a pure function of the table. One url-keyed hash agg
    via ``max_by``-style ``max(struct(ts, ...))`` — map-side combining,
    no window, no shuffle beyond the url key."""
    others = [c for c in captures.columns if c not in (url_col, ts_col)]
    packed = F.struct(F.col(ts_col), *[F.col(c) for c in others])
    agg = captures.groupBy(F.col(url_col).alias("url")).agg(
        F.max(packed).alias("_top")
    )
    return agg.select(
        "url",
        F.col(f"_top.{ts_col}").alias(ts_col),
        *[F.col(f"_top.{c}").alias(c) for c in others],
    )


def latest_captures_oracle_sql(
    source_sql: str,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    other_cols: tuple = ("doc_id", "text"),
) -> str:
    """DuckDB twin of ``latest_captures`` — same struct-ordered argmax
    via row_number with the full tie-break chain."""
    order = ", ".join([f"{ts_col} DESC"] + [f"{c} DESC" for c in other_cols])
    cols = ", ".join([url_col, ts_col, *other_cols])
    return f"""
SELECT {cols} FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {url_col} ORDER BY {order}) AS rn
  FROM ({source_sql})
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# registered-domain (pay-level-domain) extraction
# ---------------------------------------------------------------------------

# Deterministic stand-in for the public-suffix list (the real PSL is a
# ~10k-row table — same plan either way: it rides INSIDE the row as a
# literal array here because the fixture needs only these; a full PSL
# deployment swaps the literal for a broadcast join on the exploded
# suffix chain, identical semantics). Multi-label entries ("co.uk")
# exercise longest-match against their single-label prefixes ("uk").
PSL_SUFFIXES = ["com", "org", "net", "uk", "co.uk", "jp", "ac.jp"]


def registered_domains(
    pages: DataFrame,
    suffixes: list[str] | None = None,
    *,
    host_col: str = "host",
) -> DataFrame:
    """Registered-domain (PLD) extraction — input columns plus
    (public_suffix, reg_domain): the longest public suffix matching the
    host's tail, and the one extra label to its left — the unit web
    corpora group by for per-site caps, link-graph contraction, and
    robots/politeness state ("blog.alpha.co.uk" → "alpha.co.uk").

    PSL semantics: longest listed suffix wins ("co.uk" beats "uk");
    a host not matching any listed suffix falls back to its last label
    (the PSL "*" default rule); a host that IS a bare suffix has no
    registrable part → reg_domain NULL.

    100 TB shape: map-only CODEGEN — the suffix pool is known at plan
    time, so the probe is statically unrolled into |suffixes| when()
    branches folded by greatest() (plain comparisons inside
    whole-stage codegen). The first cut used array HOFs
    (filter/transform lambdas); those run INTERPRETED per element —
    measured ~6x slower on the full pld_link_graph at 1M rows (23.2 s
    → ~4 s warm after the unroll) — exactly the UDF-boundary lesson
    applied to lambda HOFs. Argmax over matches is greatest(struct(len, s)),
    null-skipping — unambiguous because two distinct suffixes of equal
    length cannot both be the same host's tail. A full ~10k-entry PSL
    swaps the unroll for a broadcast join on the exploded label-suffix
    chain (bounded by label count), identical semantics.
    """
    pool = suffixes or PSL_SUFFIXES
    host = F.col(host_col)
    cands = [
        F.when(
            (host == F.lit(s)) | host.endswith("." + s),
            F.struct(F.lit(len(s)).alias("l"), F.lit(s).alias("s")),
        )
        for s in pool
    ]
    best = (F.greatest(*cands) if len(cands) > 1 else F.coalesce(*cands))["s"]
    suffix = F.coalesce(best, F.element_at(F.split(host, r"\."), -1))
    rem = F.expr(
        f"substring({host_col}, 1, length({host_col}) - length(_psl_suffix) - 1)"
    )
    return (
        pages.withColumn("_psl_suffix", suffix)
        .withColumn(
            "reg_domain",
            F.when(host == F.col("_psl_suffix"), F.lit(None).cast("string")).otherwise(
                F.concat(
                    F.element_at(F.split(rem, r"\."), -1),
                    F.lit("."),
                    F.col("_psl_suffix"),
                )
            ),
        )
        .withColumnRenamed("_psl_suffix", "public_suffix")
    )


def pld_rollup(pages: DataFrame, suffixes: list[str] | None = None,
               *, host_col: str = "host") -> DataFrame:
    """Per-registered-domain census — (reg_domain, public_suffix,
    n_hosts, n_pages). The registered domain is the natural key for
    per-site caps and crawl budgets (per-HOST state undercounts a site
    that shards itself across subdomains). Map-only extraction + ONE
    hash agg keyed by the domain vocabulary; suffix-only hosts roll up
    under the NULL domain so nothing silently drops."""
    r = registered_domains(pages, suffixes, host_col=host_col)
    return r.groupBy("reg_domain", "public_suffix").agg(
        F.countDistinct(host_col).alias("n_hosts"),
        F.count("*").alias("n_pages"),
    )


def registered_domains_select(
    source_sql: str, suffixes: list[str] | None = None, *, host_col: str = "host"
) -> str:
    """DuckDB twin of ``registered_domains`` over any relation with a
    host column — longest-match via unnest-join + ``arg_max(s,
    length(s))`` (lengths are unique among a host's tail matches), same
    fallback and suffix-only NULL rules."""
    values = ", ".join(f"('{s}')" for s in (suffixes or PSL_SUFFIXES))
    return f"""
WITH _p AS ({source_sql}),
_sufs(s) AS (VALUES {values}),
_hit AS (
  SELECT _p.{host_col} AS host, s FROM (SELECT DISTINCT {host_col} FROM _p) _p
  JOIN _sufs ON _p.{host_col} = s OR _p.{host_col} LIKE '%.' || s
),
_best AS (SELECT host, arg_max(s, length(s)) AS s FROM _hit GROUP BY host),
_j AS (
  SELECT _p.*, coalesce(_best.s, string_split(_p.{host_col}, '.')[-1]) AS public_suffix
  FROM _p LEFT JOIN _best ON _p.{host_col} = _best.host
)
SELECT *,
  CASE WHEN {host_col} = public_suffix THEN NULL
       ELSE string_split(substr({host_col}, 1,
              length({host_col}) - length(public_suffix) - 1), '.')[-1]
            || '.' || public_suffix END AS reg_domain
FROM _j
"""


def pld_rollup_select(source_sql: str, suffixes: list[str] | None = None,
                      *, host_col: str = "host") -> str:
    """DuckDB twin of ``pld_rollup``."""
    return f"""
SELECT reg_domain, public_suffix,
       CAST(count(DISTINCT {host_col}) AS BIGINT) AS n_hosts,
       CAST(count(*) AS BIGINT) AS n_pages
FROM ({registered_domains_select(source_sql, suffixes, host_col=host_col)})
GROUP BY reg_domain, public_suffix
"""


# ---------------------------------------------------------------------------
# revisit scheduling from capture change rates
# ---------------------------------------------------------------------------

def revisit_schedule(
    captures: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    fast: float = 0.5,
    slow: float = 0.2,
) -> DataFrame:
    """Crawl revisit policy from observed change rates — (url, n_caps,
    n_changes, change_rate, revisit): the scheduler's counterpart to
    ``crawl_delta``'s per-snapshot census. A url whose content changed
    in ≥ ``fast`` of its re-fetches is scheduled 'daily', ≥ ``slow``
    'weekly', else 'monthly'; single-capture urls have no change
    evidence (rate 0) and land in 'monthly'.

    100 TB shape: one md5 per row (map-only), one lag window
    PARTITIONED BY url — per-url capture counts are bounded by crawl
    frequency (the ``crawl_delta`` precedent: no hot key can form), then
    ONE url-keyed hash agg. ``change_rate`` is a single IEEE division
    of two exact integers — bit-identical across engines, so the
    threshold CASE can never flap between engine and oracle. Captures
    of one url with the same timestamp are ordered by content hash, so
    the change count is deterministic and engine-neutral.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(ts_col, "_h")
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    changed = (
        captures.select(F.col(url_col).alias("url"), F.col(ts_col), h.alias("_h"))
        .withColumn("_prev", F.lag("_h").over(w))
        .withColumn(
            "_chg", (F.col("_prev").isNotNull() & (F.col("_h") != F.col("_prev"))).cast("long")
        )
    )
    agg = changed.groupBy("url").agg(
        F.count("*").alias("n_caps"), F.sum("_chg").alias("n_changes")
    )
    rate = F.when(
        F.col("n_caps") > 1, F.col("n_changes") / (F.col("n_caps") - 1)
    ).otherwise(F.lit(0.0))
    return agg.select(
        "url", "n_caps", "n_changes", rate.alias("change_rate"),
        F.when(rate >= fast, F.lit("daily"))
        .when(rate >= slow, F.lit("weekly"))
        .otherwise(F.lit("monthly"))
        .alias("revisit"),
    )


def revisit_schedule_select(
    source_sql: str,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    fast: float = 0.5,
    slow: float = 0.2,
) -> str:
    """DuckDB twin of ``revisit_schedule`` — same md5 identity, lag
    window (hash tiebreak), exact-integer rate, and threshold CASE."""
    return f"""
WITH _c AS (
  SELECT {url_col} AS url,
         md5(coalesce({text_col}, '')) AS h,
         lag(md5(coalesce({text_col}, ''))) OVER (
           PARTITION BY {url_col}
           ORDER BY {ts_col}, md5(coalesce({text_col}, ''))) AS prev
  FROM ({source_sql})
),
_a AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_caps,
         CAST(sum(CASE WHEN prev IS NOT NULL AND h <> prev THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changes
  FROM _c GROUP BY url
)
SELECT url, n_caps, n_changes,
  CASE WHEN n_caps > 1 THEN n_changes * 1.0 / (n_caps - 1) ELSE 0.0 END AS change_rate,
  CASE WHEN (CASE WHEN n_caps > 1 THEN n_changes * 1.0 / (n_caps - 1) ELSE 0.0 END) >= {fast}
         THEN 'daily'
       WHEN (CASE WHEN n_caps > 1 THEN n_changes * 1.0 / (n_caps - 1) ELSE 0.0 END) >= {slow}
         THEN 'weekly'
       ELSE 'monthly' END AS revisit
FROM _a
"""


# ---------------------------------------------------------------------------
# leakage-safe train/val/test split
# ---------------------------------------------------------------------------

def leakage_safe_split(
    docs: DataFrame,
    *,
    val_pct: int = 1,
    test_pct: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Group-aware deterministic split — (id, group_key, split): the
    split decision hashes the duplicate-GROUP key, not the document id,
    so byte-identical documents can never straddle train/val/test (the
    eval-leakage failure mode a per-doc hash split has by construction:
    with 1% val, a duplicated doc leaks across the boundary with
    probability ~2%·dup_rate — at web dup rates that is most of val).

    Default grouping is exact-content identity (md5 of text); pass
    ``group_col`` to split by a coarser precomputed key instead — e.g.
    a near-dup cluster id from ``near_dup_clusters``, which extends the
    no-straddle guarantee from exact to near duplicates.

    Percentages are INTEGER percent points carved off the Lehmer hash
    space (test below ``test_pct``%, val next, train the rest) — the
    same engine-neutral mixer as ``deterministic_sample``, so split
    membership is a pure function of content: stable across partition
    layout, cluster size, retries, and corpus growth (a doc keeps its
    split when new docs arrive). Map-only codegen, zero shuffle.
    """
    if val_pct < 0 or test_pct < 0 or val_pct + test_pct > 100:
        raise ValueError(
            "val_pct and test_pct must be >= 0 with val_pct + test_pct <= 100"
        )
    key = (
        F.col(group_col).cast("string") if group_col
        else F.md5(F.coalesce(F.col(text_col), F.lit("")))
    )
    gid = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    h = det_hash(gid)
    t_hi = int(LEHMER_P * test_pct / 100)
    v_hi = int(LEHMER_P * (test_pct + val_pct) / 100)
    return docs.select(
        F.col(id_col),
        key.alias("group_key"),
        F.when(h < t_hi, F.lit("test"))
        .when(h < v_hi, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def leakage_safe_split_select(
    source_sql: str,
    *,
    val_pct: int = 1,
    test_pct: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_expr: str | None = None,
) -> str:
    """DuckDB twin of ``leakage_safe_split`` — same md5→int64 reduction
    and Lehmer thresholds."""
    key = group_expr or f"md5(coalesce({text_col}, ''))"
    gid = f"CAST('0x' || substr(md5({key}), 1, 15) AS BIGINT)"
    h = det_hash_sql(gid)
    t_hi = int(LEHMER_P * test_pct / 100)
    v_hi = int(LEHMER_P * (test_pct + val_pct) / 100)
    return f"""
SELECT {id_col}, {key} AS group_key,
  CASE WHEN {h} < {t_hi} THEN 'test'
       WHEN {h} < {v_hi} THEN 'val'
       ELSE 'train' END AS split
FROM ({source_sql})
"""


# ---------------------------------------------------------------------------
# DoReMi-style domain mixture reweighting
# ---------------------------------------------------------------------------

def doremi_mixture(
    docs: DataFrame,
    *,
    eta: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    materialize: bool = True,
) -> DataFrame:
    """One multiplicative-weights domain-reweighting step (the DoReMi
    update shape, Xie et al. 2023, arXiv:2305.10429, with the corpus
    unigram LM standing in for the proxy model) — per source: (source,
    n_docs, n_tokens, loss, share, excess, weight).

    ``loss`` is the token-weighted mean unigram cross-entropy of the
    source (from ``unigram_cross_entropy``); ``excess`` its clamp-at-0
    regret against the token-weighted corpus mean; the updated mixture
    ``weight ∝ share · exp(eta · excess)``, normalized. Sources harder
    than the corpus average are upweighted; eta=0 degrades to the
    baseline token shares exactly.

    100 TB shape: the per-doc xent plan (one explode, vocabulary-sized
    frequency agg, token-keyed join back) + one id-keyed join to the
    source column + ONE source-keyed hash agg (|sources| rows).
    Normalizers ride 1-row broadcast crossJoins — no SinglePartition
    exchange, no collect. The per-source aggregate is EAGERLY
    materialized (localCheckpoint, which runs a job at call time and
    rejects streams; ``materialize=False`` is the lazy form for
    streaming callers) because THREE downstream consumers (total, ref,
    normalizer) would otherwise each replay the corpus scan: plan-audit
    measured 84 exchanges unmaterialized vs single-digit with the
    |sources|-row checkpoint. Engine-neutrality: loss and the reference
    loss are rounded to 6dp BEFORE entering exp(), so the only cross-
    engine float hazards are the documented last-ulp sum-order drifts
    already absorbed by 6dp rounding throughout this module.
    """
    x = unigram_cross_entropy(docs, text_col=text_col, id_col=id_col)
    per_src = (
        docs.select(F.col(id_col), F.col(source_col).alias("source"))
        .join(x, id_col)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum(F.col("xent") * F.col("n_tokens"))
                / F.nullif(F.sum(F.when(F.col("xent").isNotNull(), F.col("n_tokens"))), F.lit(0)),
                6,
            ).alias("loss"),
        )
    )
    if materialize:
        per_src = per_src.localCheckpoint()
    totals = per_src.agg(
        F.sum("n_tokens").alias("_total"),
        F.round(
            F.sum(F.col("loss") * F.col("n_tokens"))
            / F.nullif(F.sum(F.when(F.col("loss").isNotNull(), F.col("n_tokens"))), F.lit(0)),
            6,
        ).alias("_ref"),
    )
    excess = F.greatest(F.lit(0.0), F.col("loss") - F.col("_ref"))
    raw = (F.col("n_tokens") / F.col("_total")) * F.exp(F.lit(eta) * excess)
    scored = per_src.crossJoin(F.broadcast(totals)).withColumn("_raw", raw)
    norm = scored.agg(F.sum("_raw").alias("_z"))
    return (
        scored.crossJoin(F.broadcast(norm))
        .select(
            "source", "n_docs", "n_tokens", "loss",
            F.round(F.col("n_tokens") / F.col("_total"), 6).alias("share"),
            F.round(excess, 6).alias("excess"),
            F.round(F.col("_raw") / F.col("_z"), 6).alias("weight"),
        )
    )


def doremi_mixture_select(
    corpus_sql: str,
    toks_expr: str,
    *,
    eta: float = 1.0,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    """DuckDB twin of ``doremi_mixture`` over any (id, text, source)
    relation; ``toks_expr`` must match the Spark tokenizer
    (dedup._TOKENS) — same per-doc rounding, same 6dp pre-exp
    discipline, same normalization order."""
    return f"""
WITH _corpus AS ({corpus_sql}),
_d AS (SELECT {id_col}, {toks_expr} AS toks FROM _corpus),
_occ AS (SELECT {id_col}, unnest(toks) AS tok FROM _d),
_freq AS (SELECT tok, count(*) AS c FROM _occ GROUP BY tok),
_tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM _freq),
_scored AS (
  SELECT _occ.{id_col}, count(*) AS n_tokens,
         round(avg(-ln(_freq.c / _tot.total)), 6) AS xent
  FROM _occ JOIN _freq ON _occ.tok = _freq.tok CROSS JOIN _tot
  GROUP BY _occ.{id_col}
),
_x AS (
  SELECT _d.{id_col},
         coalesce(_scored.n_tokens, len(_d.toks)) AS n_tokens,
         _scored.xent AS xent
  FROM _d LEFT JOIN _scored ON _d.{id_col} = _scored.{id_col}
),
_src AS (
  SELECT c.{source_col} AS source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(x.n_tokens) AS BIGINT) AS n_tokens,
         round(sum(x.xent * x.n_tokens)
               / nullif(sum(CASE WHEN x.xent IS NOT NULL THEN x.n_tokens END), 0), 6)
           AS loss
  FROM _corpus c JOIN _x x ON c.{id_col} = x.{id_col}
  GROUP BY c.{source_col}
),
_totals AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         round(sum(loss * n_tokens)
               / nullif(sum(CASE WHEN loss IS NOT NULL THEN n_tokens END), 0), 6) AS ref
  FROM _src
),
_raw AS (
  SELECT _src.*, _totals.total,
         (n_tokens * 1.0 / total) * exp({eta} * greatest(0.0, loss - ref)) AS raw,
         greatest(0.0, loss - ref) AS excess_raw
  FROM _src CROSS JOIN _totals
),
_z AS (SELECT sum(raw) AS z FROM _raw)
SELECT source, n_docs, n_tokens, loss,
       round(n_tokens * 1.0 / total, 6) AS share,
       round(excess_raw, 6) AS excess,
       round(raw / z, 6) AS weight
FROM _raw CROSS JOIN _z
"""


def url_history(
    captures: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """SCD-2 capture history — one row per (url, revision INTERVAL):
    (url, valid_from, valid_to, n_captures, content_hash, is_current).
    The type-2 twin of ``latest_captures``: consumers who need
    "what did this page say on date D" (decontamination forensics,
    crawl-delta audits, link-rot studies) get an AS-OF-joinable interval
    table instead of the latest row.

    Revision boundaries are content-hash changes between consecutive
    captures; unchanged re-fetches fold into their interval and are
    COUNTED (n_captures — the wasted-refetch evidence rides along).
    valid_to is the next revision's valid_from (half-open, the usual
    AS-OF convention), NULL on the current row.

    100 TB shape: md5 per row map-only, then TWO url-partitioned lag/
    lead windows (per-url capture counts bounded by crawl frequency —
    the crawl_delta no-hot-key argument) and one (url, rev)-keyed hash
    agg. No global sort, no funnel. Captures of one url with the same
    timestamp are ordered by content hash (and intervals with the same
    valid_from by revision number), so the history is deterministic and
    engine-neutral.
    """
    from pyspark.sql import Window

    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    w = Window.partitionBy("url").orderBy("ts", "_h")
    rows = (
        captures.select(F.col(url_col).alias("url"), F.col(ts_col).alias("ts"),
                        h.alias("_h"))
        .withColumn("_prev", F.lag("_h").over(w))
        .withColumn(
            "_rev",
            F.sum(
                (F.col("_prev").isNull() | (F.col("_h") != F.col("_prev"))).cast("long")
            ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    iv = rows.groupBy("url", "_rev").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_captures"),
        # every row of a (url, rev) group carries the same hash by
        # construction; min() states that determinism, first() wouldn't
        F.min("_h").alias("content_hash"),
    )
    w2 = Window.partitionBy("url").orderBy("valid_from", "_rev")
    return (
        iv.withColumn("valid_to", F.lead("valid_from").over(w2))
        .select(
            "url", "valid_from", "valid_to", "n_captures", "content_hash",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def url_history_select(
    source_sql: str,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> str:
    """DuckDB twin of ``url_history`` — same hash identity and
    tiebreaks, revision numbering via the running sum of change flags,
    lead() valid_to."""
    return f"""
WITH _r AS (
  SELECT {url_col} AS url, {ts_col} AS ts,
         md5(coalesce({text_col}, '')) AS h,
         lag(md5(coalesce({text_col}, ''))) OVER (
           PARTITION BY {url_col}
           ORDER BY {ts_col}, md5(coalesce({text_col}, ''))) AS prev
  FROM ({source_sql})
),
_n AS (
  SELECT url, ts, h,
         sum(CASE WHEN prev IS NULL OR h <> prev THEN 1 ELSE 0 END) OVER (
           PARTITION BY url ORDER BY ts, h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev
  FROM _r
),
_iv AS (
  SELECT url, rev, min(ts) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_captures,
         min(h) AS content_hash
  FROM _n GROUP BY url, rev
)
SELECT url, valid_from,
       lead(valid_from) OVER (PARTITION BY url ORDER BY valid_from, rev) AS valid_to,
       n_captures, content_hash,
       (lead(valid_from) OVER (PARTITION BY url ORDER BY valid_from, rev) IS NULL)
         AS is_current
FROM _iv
"""
