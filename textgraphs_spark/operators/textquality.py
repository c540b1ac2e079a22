"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All four are pure column expressions (no UDFs) so that:
  * they run inside whole-stage codegen at scan speed, and
  * the DuckDB oracle can verify every value.

The language-ID heuristic is stopword-ratio based: for each candidate
language a small distinctive stopword set; the language with the highest
hit ratio wins (ties break lexicographically — deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .blocking import tokens_col


# tiny distinctive stopword sets (deterministic, versioned)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with", "from", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "auf"],
    "es": ["el", "la", "los", "las", "es", "en", "que", "con", "una", "por"],
    "fr": ["le", "la", "les", "et", "est", "dans", "que", "avec", "une", "pour"],
}


def token_count(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace-word and BPE-ish subword counts per doc."""
    # BPE-ish: alphanumeric runs plus each punctuation char counts as a token
    bpe = F.size(
        F.expr(
            f"filter(split(lower({text_col}), '\\\\s+'), t -> t <> '')"
        )
    )
    return docs.select(
        F.col(id_col),
        F.size(tokens_col(text_col)).alias("n_words"),
        bpe.alias("n_ws_tokens"),
        F.length(text_col).alias("n_chars"),
    )


def lang_struct_col(text_col: str = "text") -> Column:
    """(hits, lang) struct of the winning language — a reusable column
    so composite operators (webdata.curation_decisions) can take the
    language signal in the SAME projection as other signals instead of
    re-scanning the corpus and joining. Ties break to the
    lexicographically greatest lang (struct max), matching the oracle's
    CASE order fr > es > en > de."""
    toks = tokens_col(text_col)
    hit_cols = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        arr = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.array_intersect(F.array_distinct(toks), arr))
        hit_cols.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    return F.array_max(F.array(*hit_cols))


def pred_lang_col(text_col: str = "text") -> Column:
    best = lang_struct_col(text_col)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID by stopword hit counts."""
    best = lang_struct_col(text_col)
    return docs.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("pred_lang"),
        best["hits"].alias("stopword_hits"),
    )


def quality_col(text_col: str = "text") -> Column:
    """The composite quality score alone, as a reusable column (see
    ``lang_struct_col`` for why) — MUST stay value-identical to
    ``quality_score``'s ``quality`` output."""
    toks = tokens_col(text_col)
    n_chars = F.length(text_col)
    n_words = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[.,;:!?]", ""))
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), en_stop))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / F.least(n_words, F.lit(10))).otherwise(F.lit(0.0))
    mean_wlen = F.when(
        n_words > 0,
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n_words,
    ).otherwise(F.lit(0.0))
    length_ok = F.when((n_words >= 10) & (n_words <= 100000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio <= 0.1, 1.0).otherwise(0.5)
    wlen_ok = F.when((mean_wlen >= 3.0) & (mean_wlen <= 10.0), 1.0).otherwise(0.5)
    return F.round((length_ok + punct_ok + wlen_ok + stop_ratio) / 4.0, 6)


def quality_score(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Web-corpus quality features + a composite score in [0, 1]:
    length band, punctuation ratio, stopword ratio, mean word length,
    uppercase ratio. Matches common C4/Gopher-style filters in spirit."""
    toks = tokens_col(text_col)
    n_chars = F.length(text_col)
    n_words = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[.,;:!?]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[A-Z]", ""))
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), en_stop))

    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    upper_ratio = F.when(n_chars > 0, n_upper / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / F.least(n_words, F.lit(10))).otherwise(F.lit(0.0))
    mean_wlen = F.when(
        n_words > 0,
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n_words,
    ).otherwise(F.lit(0.0))

    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(upper_ratio, 6).alias("upper_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        quality_col(text_col).alias("quality"),
    )


def fingerprint(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic document fingerprints:
    * content_hash — md5 of raw text (exact identity)
    * norm_hash    — md5 of the normalized token join (whitespace/case/
                     punctuation-insensitive identity)
    """
    norm = F.concat_ws(" ", tokens_col(text_col))
    return docs.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_hash"),
        F.md5(norm).alias("norm_hash"),
        F.length(text_col).alias("n_chars"),
    )


def readability(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading ease + type-token ratio per document — the two
    classic training-data quality signals next to the composite score:
    Flesch RE = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/
    words) with syllables estimated as vowel-group runs (>= 1 per
    word, the standard heuristic), sentences as non-empty [.!?]-split
    segments; TTR = distinct tokens / tokens (lexical diversity — LM
    training filters drop both extremes: boilerplate repeats low, OCR
    garbage high).

    One map-only whole-stage-codegen projection — zero shuffles, zero
    Python — over the same canonical tokenization as every other text
    signal. Counts are exact integers in both engines, the two ratio
    expressions are formed identically and rounded to 6, so the DuckDB
    twin is bit-equal. NULL (not a sentinel) where undefined: flesch
    needs words AND sentences, ttr needs words.
    """
    toks = tokens_col(text_col)
    n_words = F.size(toks).cast("long")
    n_sents = F.size(
        F.expr(f"filter(split({text_col}, '[.!?]+'), s -> trim(s) <> '')")
    ).cast("long")
    n_syll = F.expr(
        "aggregate(_toks, 0L, (acc, w) ->"
        " acc + greatest(size(regexp_extract_all(w, '[aeiouy]+', 0)), 1))"
    )
    flesch = F.when(
        (F.col("n_words") > 0) & (F.col("n_sentences") > 0),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences"))
            - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words")),
            6,
        ),
    )
    ttr = F.when(
        F.col("n_words") > 0,
        F.round(F.col("n_distinct") / F.col("n_words"), 6),
    )
    return (
        docs.select(F.col(id_col), F.col(text_col), toks.alias("_toks"))
        .select(
            F.col(id_col),
            n_words.alias("n_words"),
            n_sents.alias("n_sentences"),
            n_syll.alias("n_syllables"),
            F.size(F.array_distinct("_toks")).cast("long").alias("n_distinct"),
        )
        .select(
            id_col, "n_words", "n_sentences", "n_syllables",
            flesch.alias("flesch"), ttr.alias("ttr"),
        )
    )


def length_quartiles(
    docs: DataFrame,
    *,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact per-group token-length quartiles — (group, n_docs, p25,
    p50, p75) with percentile_disc semantics (the value at rank
    ceil(q*n); no interpolation, so the answer is an actual document
    length and bit-equal across engines). The per-language length
    distribution is the curation knob behind min/max-length filters.

    WINDOWLESS at scale: ranks come from rankops.grouped_rank (a hot
    language never funnels into one window task), the quartile picks
    are conditional aggregates over the ranked frame — one extra
    vocabulary-of-groups-sized join, no sort of the full corpus on one
    executor. Ties on length break by doc id; the SELECTED length is
    tie-invariant (ranks sort by length first).
    """
    from .rankops import grouped_rank

    d = docs.select(
        F.col(group_col).alias("g"),
        F.size(tokens_col(text_col)).cast("long").alias("n_toks"),
        F.col(id_col).alias("_id"),
    )
    r = grouped_rank(d, "g", [F.col("n_toks"), F.col("_id")], rank_col="_r")
    cnt = d.groupBy("g").agg(F.count("*").alias("_n"))

    def pick(q: float):
        target = F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("_n")).cast("long"))
        return F.max(F.when(F.col("_r") == target, F.col("n_toks")))

    return (
        r.join(cnt, "g")
        .groupBy(F.col("g").alias(group_col))
        .agg(
            F.max("_n").cast("long").alias("n_docs"),
            pick(0.25).cast("long").alias("p25"),
            pick(0.5).cast("long").alias("p50"),
            pick(0.75).cast("long").alias("p75"),
        )
        .orderBy(group_col)
    )


# ---------------------------------------------------------------------------
# Gopher-rule census (Rae et al. 2021, table A1 — the public heuristic
# document filters; reference has no quality gate, this is LLM-pipeline
# surface beyond it)
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags(text_col: str = "text") -> list[tuple[str, Column]]:
    """The seven Gopher rule gates as (rule, boolean-int Column) pairs —
    whitespace words, trimmed non-empty lines, all codegen (no UDF):

    * word_count      — 50 <= words <= 100000
    * mean_word_len   — 3 <= mean word length <= 10
    * symbol_ratio    — (# + ... + …) / words <= 0.1
    * bullet_lines    — <= 90% of lines start with a bullet (-, *, •)
    * ellipsis_lines  — <= 30% of lines end with ... or …
    * alpha_words     — >= 80% of words contain an alphabetic char
    * stop_words      — >= 2 distinct Gopher stopwords present
    """
    t = F.col(text_col)
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    nw = F.size(toks)
    wl = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    n_hash = F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    n_dots = ((F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / 3
              ).cast("long")
    n_uell = F.length(t) - F.length(F.regexp_replace(t, "…", ""))
    lines = F.filter(
        F.transform(F.split(t, r"\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    nl = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda x: x.like("- %") | x.like("* %") | x.like("• %")))
    n_ell_ln = F.size(F.filter(lines, lambda x: x.like("%...") | x.like("%…")))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    stop = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(
        F.array_distinct(F.transform(toks, F.lower)), stop))

    def gate(cond: Column) -> Column:
        return F.when(cond, 1).otherwise(0)

    return [
        ("word_count", gate((nw >= 50) & (nw <= 100000))),
        ("mean_word_len", gate((nw > 0) & (wl / nw >= 3.0) & (wl / nw <= 10.0))),
        ("symbol_ratio", gate((nw > 0) & ((n_hash + n_dots + n_uell) / nw <= 0.1))),
        ("bullet_lines", gate((nl == 0) | (n_bullet / nl <= 0.9))),
        ("ellipsis_lines", gate((nl == 0) | (n_ell_ln / nl <= 0.3))),
        ("alpha_words", gate((nw > 0) & (n_alpha / nw >= 0.8))),
        ("stop_words", gate(n_stop >= 2)),
    ]


def gopher_census(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Per-rule pass/fail census of the Gopher quality gates over a
    corpus, plus an ``all_rules`` conjunction row: (rule, n_pass,
    n_fail, pass_share) ordered by rule name.

    100 TB shape: ONE corpus scan computing eight small ints per doc
    (whole-stage codegen, no UDF, no shuffle before the agg), a stack()
    generator multiplying rows 8x at 2 tiny columns each, and one
    map-side-combining hash agg into exactly 8 rows. No window, no
    join — the census costs a single pass at any corpus size.
    """
    flags = gopher_flags(text_col)
    names = [n for n, _ in flags]
    all_pass = F.when(
        sum((c for _, c in flags), F.lit(0)) == len(flags), 1
    ).otherwise(0)
    per_doc = docs.select(
        *[c.alias(n) for n, c in flags], all_pass.alias("all_rules")
    )
    names = names + ["all_rules"]
    stacked = per_doc.select(F.expr(
        "stack(" + str(len(names)) + ", "
        + ", ".join(f"'{n}', {n}" for n in names)
        + ") as (rule, pass_flag)"
    ))
    return (
        stacked.groupBy("rule")
        .agg(
            F.sum("pass_flag").alias("n_pass"),
            (F.count("*") - F.sum("pass_flag")).alias("n_fail"),
            F.round(F.sum("pass_flag") / F.count("*"), 6).alias("pass_share"),
        )
        .orderBy("rule")
    )


def gopher_census_select(source_sql: str, *, text_col: str = "text") -> str:
    """DuckDB twin of ``gopher_census`` over ``{source_sql}`` — same
    rules, same tokenization (whitespace words, trimmed non-empty
    lines), same gate arithmetic."""
    stop = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    rules = {
        "word_count": "CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END",
        "mean_word_len":
            "CASE WHEN nw > 0 AND wl / nw >= 3.0 AND wl / nw <= 10.0 THEN 1 ELSE 0 END",
        "symbol_ratio":
            "CASE WHEN nw > 0 AND (n_hash + n_dots + n_uell) / nw <= 0.1 THEN 1 ELSE 0 END",
        "bullet_lines":
            "CASE WHEN nl = 0 OR n_bullet / nl <= 0.9 THEN 1 ELSE 0 END",
        "ellipsis_lines":
            "CASE WHEN nl = 0 OR n_ell_ln / nl <= 0.3 THEN 1 ELSE 0 END",
        "alpha_words":
            "CASE WHEN nw > 0 AND n_alpha / nw >= 0.8 THEN 1 ELSE 0 END",
        "stop_words": "CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END",
    }
    gates = ",\n         ".join(f"{expr} AS {name}" for name, expr in rules.items())
    legs = "\n  UNION ALL\n".join(
        f"  SELECT '{n}' AS rule, {n} AS pass_flag FROM gates" for n in rules
    )
    allsum = " + ".join(rules)  # rule-name columns, resolved one CTE later
    return f"""WITH src AS ({source_sql}),
feat AS (
  SELECT len(list_filter(string_split_regex({text_col}, '\\s+'), x -> x <> '')) AS nw,
         list_sum(list_transform(
           list_filter(string_split_regex({text_col}, '\\s+'), x -> x <> ''),
           x -> length(x))) AS wl,
         length({text_col}) - length(replace({text_col}, '#', '')) AS n_hash,
         (length({text_col}) - length(replace({text_col}, '...', ''))) // 3 AS n_dots,
         length({text_col}) - length(replace({text_col}, '…', '')) AS n_uell,
         len(list_filter(list_transform(string_split({text_col}, chr(10)),
             x -> trim(x)), x -> x <> '')) AS nl,
         len(list_filter(list_transform(string_split({text_col}, chr(10)),
             x -> trim(x)),
             x -> x LIKE '- %' OR x LIKE '* %' OR x LIKE '• %')) AS n_bullet,
         len(list_filter(list_transform(string_split({text_col}, chr(10)),
             x -> trim(x)),
             x -> x LIKE '%...' OR x LIKE '%…')) AS n_ell_ln,
         len(list_filter(list_filter(string_split_regex({text_col}, '\\s+'),
             x -> x <> ''), x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         len(list_intersect(
           list_distinct(list_transform(
             list_filter(string_split_regex({text_col}, '\\s+'), x -> x <> ''),
             x -> lower(x))), [{stop}])) AS n_stop
  FROM src
),
gates0 AS (
  SELECT {gates}
  FROM feat
),
gates AS (
  SELECT *, CASE WHEN {allsum} = 7 THEN 1 ELSE 0 END AS all_rules FROM gates0
),
stacked AS (
{legs}
  UNION ALL
  SELECT 'all_rules' AS rule, all_rules AS pass_flag FROM gates
)
SELECT rule,
       CAST(sum(pass_flag) AS BIGINT) AS n_pass,
       CAST(count(*) - sum(pass_flag) AS BIGINT) AS n_fail,
       round(sum(pass_flag) / count(*), 6) AS pass_share
FROM stacked
GROUP BY rule
ORDER BY rule
"""


# ---------------------------------------------------------------------------
# C4 line filter (Raffel et al. 2020, section 2.2 — the public line-level
# cleaning rules behind the Colossal Clean Crawled Corpus; reference has no
# cleaning pass, this is LLM-pipeline surface beyond it)
# ---------------------------------------------------------------------------

# Stand-in for C4's external badword list (the "Dirty, Naughty" list is not
# shipped here); the GATE mechanics — lowercase alnum word-token membership —
# are the real, tested surface. Callers pass their production list.
C4_BADWORDS = ("obscenity", "profanity")

_C4_POLICY = ("terms of use", "privacy policy", "cookie policy", "uses cookies")


def c4_line_filter(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    badwords: tuple[str, ...] = C4_BADWORDS,
    ordered: bool = True,
) -> DataFrame:
    """C4-style page cleaning as ONE map-only projection: line-level
    keep rules + page-level gates, per doc — (doc_id, n_lines, n_kept,
    n_sentences, keep, clean_md5) ordered by doc_id.

    Line KEPT iff: ends in terminal punctuation (. ! ? "), has >= 5
    whitespace words, and contains neither 'javascript' nor a policy
    phrase (terms of use / privacy policy / cookie policy / uses
    cookies), all case-insensitive. Page KEPT iff the cleaned text has
    >= 3 sentences AND the ORIGINAL page has no 'lorem ipsum', no '{',
    and no badword token (C4 applies the page gates before/independent
    of line pruning). ``clean_md5`` = md5 of the kept lines joined by
    newline — the byte-parity channel for the cleaned text itself;
    cross-doc 3-sentence-span dedup is the separate
    ``webdata.cross_doc_repetition`` / span-removal surface.

    100 TB shape: zero UDFs, zero shuffles before the final orderBy —
    every rule is a codegen'd higher-order array expression in a single
    corpus scan; the transform is a pure per-row map, so it composes
    with any downstream dedup/curation stage without a barrier.
    """
    t = F.col(text_col)

    def n_words(l: Column) -> Column:
        return F.size(F.filter(F.split(l, r"\s+"), lambda x: x != ""))

    def is_kept(l: Column) -> Column:
        lo = F.lower(l)
        bad = lo.contains("javascript")
        for p in _C4_POLICY:
            bad = bad | lo.contains(p)
        return (
            (l.like("%.") | l.like("%!") | l.like("%?") | l.like('%"'))
            & (n_words(l) >= 5)
            & ~bad
        )

    lines = F.filter(
        F.transform(F.split(t, r"\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    toks = F.array_distinct(
        F.filter(F.split(F.lower(t), r"[^a-z0-9]+"), lambda x: x != "")
    )
    no_badword = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in badwords]))
    ) == 0
    page_ok = (
        ~F.lower(t).contains("lorem ipsum") & ~t.contains("{") & no_badword
    )
    n_sent = F.size(
        F.filter(F.split(F.col("_clean"), r"[.!?]+"), lambda s: F.trim(s) != "")
    ).cast("long")
    out = (
        docs.select(
            F.col(id_col),
            F.size(lines).cast("long").alias("n_lines"),
            F.array_join(F.filter(lines, is_kept), "\n").alias("_clean"),
            page_ok.alias("_page_ok"),
        )
        .select(
            id_col,
            "n_lines",
            F.size(F.split(F.col("_clean"), r"\n")).cast("long").alias("_nk"),
            n_sent.alias("n_sentences"),
            F.when((n_sent >= 3) & F.col("_page_ok"), 1).otherwise(0)
            .cast("long").alias("keep"),
            F.md5(F.col("_clean")).alias("clean_md5"),
            F.col("_clean"),
        )
        .select(
            id_col, "n_lines",
            F.when(F.col("_clean") == "", F.lit(0)).otherwise(F.col("_nk"))
            .cast("long").alias("n_kept"),
            "n_sentences", "keep", "clean_md5",
        )
    )
    # ordered=False is the STREAMING form (orderBy is illegal on an
    # unbounded frame; every rule above is a pure per-row map)
    return out.orderBy(id_col) if ordered else out


def c4_line_filter_select(
    source_sql: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    badwords: tuple[str, ...] = C4_BADWORDS,
) -> str:
    """DuckDB twin of ``c4_line_filter`` over ``{source_sql}`` — same
    line predicate, page gates, and md5-of-cleaned-text channel."""
    bad = ", ".join(f"'{w}'" for w in badwords)
    policy = " OR ".join(
        f"contains(lower(l), '{p}')" for p in ("javascript",) + _C4_POLICY
    )
    kept = (
        "list_filter(list_filter(list_transform(string_split({t}, chr(10)),"
        " x -> trim(x)), x -> x <> ''),"
        " l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%\"')"
        " AND len(list_filter(string_split_regex(l, '\\s+'), x -> x <> '')) >= 5"
        f" AND NOT ({policy}))"
    ).format(t=text_col)
    return f"""WITH src AS ({source_sql}),
feat AS (
  SELECT {id_col},
         len(list_filter(list_transform(string_split({text_col}, chr(10)),
             x -> trim(x)), x -> x <> '')) AS n_lines,
         coalesce(array_to_string({kept}, chr(10)), '') AS clean,
         len({kept}) AS n_kept,
         (NOT contains(lower({text_col}), 'lorem ipsum')
          AND NOT contains({text_col}, '{{')
          AND len(list_intersect(list_distinct(list_filter(
                string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                x -> x <> '')), [{bad}])) = 0) AS page_ok
  FROM src
)
SELECT {id_col},
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST(len(list_filter(string_split_regex(clean, '[.!?]+'),
            s -> trim(s) <> '')) AS BIGINT) AS n_sentences,
       CAST(CASE WHEN len(list_filter(string_split_regex(clean, '[.!?]+'),
            s -> trim(s) <> '')) >= 3 AND page_ok THEN 1 ELSE 0 END
            AS BIGINT) AS keep,
       md5(clean) AS clean_md5
FROM feat
ORDER BY {id_col}
"""


def token_stats_by_lang(docs: DataFrame, *, text_col: str = "text", lang_col: str = "lang") -> DataFrame:
    """Tokenizer-fertility census per language — (lang, n_docs,
    total_words, avg_words_per_doc, avg_chars_per_word): the numbers a
    training-data pipeline uses to budget token quotas per language and
    to spot tokenizer pathologies (a language whose chars-per-word is
    far off its family suggests segmentation problems).

    100 TB shape: one scan, per-doc counts as pure codegen columns, one
    map-side-combinable groupBy on ``lang`` (cardinality ~hundreds).
    Uses the corpus's own ``lang`` column when present (the BASELINE.json
    input contract carries one); compose with ``lang_id`` upstream when
    it does not.
    """
    per_doc = docs.select(
        F.col(lang_col).alias("lang"),
        F.size(tokens_col(text_col)).alias("n_words"),
        F.length(text_col).alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.round(F.sum("n_words") / F.count("*"), 6).alias("avg_words_per_doc"),
            F.round(
                F.sum(F.when(F.col("n_words") > 0, F.col("n_chars")).otherwise(0))
                / F.sum("n_words"),
                6,
            ).alias("avg_chars_per_word"),
        )
    )


def bpe_pair_census(
    docs: DataFrame, *, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """First BPE merge-round statistic — (pair, n): the ``top_k`` most
    frequent adjacent character pairs inside words, counted over word
    OCCURRENCES corpus-wide. This is exactly the table byte-pair
    encoding's first iteration maximizes over (Sennrich et al. 2016),
    and the census a tokenizer-training pipeline runs on its corpus
    before any merge: the head of this table IS the first merge list.

    100 TB shape: explode(words) → explode(sequence) + plain substr
    projection (whole-stage codegen, no interpreted HOF lambdas —
    invariant 6), one pair-keyed hash agg whose partial combine
    collapses each partition to ≤ |alphabet|² rows (≤ ~1.3k for
    [a-z0-9]) before the shuffle, then TakeOrdered for the global
    top-k — the shuffle carries ~alphabet²·partitions rows regardless
    of corpus size. Tie-break (n desc, pair asc) is total, so top_k is
    deterministic.
    """
    w = docs.select(F.explode(tokens_col(text_col)).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = w.select(
        "w", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i")
    ).select(F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(int(top_k))
    )


def bpe_pair_census_select(
    source_sql: str, *, text_col: str = "text", top_k: int = 50
) -> str:
    """DuckDB twin of ``bpe_pair_census`` — same unicode-letter token
    split (RE2 ``\\p{L}`` ≡ Java ``\\p{L}``, proven by the fingerprint
    oracle) and the same total tie-break."""
    toks = (
        f"list_filter(string_split_regex(lower({text_col}),"
        " '[^\\p{L}0-9]+'), t -> t <> '')"
    )
    return f"""
WITH words AS MATERIALIZED (
  SELECT t.w FROM (SELECT {toks} AS ws FROM ({source_sql})) d,
       unnest(d.ws) AS t(w)
  WHERE length(t.w) >= 2
),
pairs AS (
  SELECT substr(w, CAST(r.i AS INT), 2) AS pair
  FROM words, unnest(range(1, length(w))) AS r(i)
)
SELECT pair, count(*) AS n FROM pairs
GROUP BY pair ORDER BY n DESC, pair ASC LIMIT {int(top_k)}
"""


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval — (q_id, doc_id, score, rk): the top
    ``top_k`` documents per query under Okapi BM25 with the Lucene
    idf form ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (always positive).
    The retrieval primitive a curation pipeline uses for targeted
    audits ("find the documents about X") and retrieval-based dedup.

    Scale shape: ONE corpus scan builds the (doc, term, tf) inverted
    index + doc lengths (two hash aggs, map-side combining); N and
    avg doclen ride a broadcast 1-row frame; df joins term-keyed
    (vocabulary-sized). The query set — the small side by definition —
    is exploded to (q_id, term) and BROADCAST, so scoring is a map-side
    join over the index, one (q_id, doc)-keyed agg, then exact per-query
    top-k via rankops.grouped_rank (no global sort; a query matching
    10^9 docs does not funnel into one task). Ranking uses the ROUNDED
    score (6 dp) with doc-id tie-break so the order is total and
    engine-independent (raw float sums differ at the last ulp across
    engines — the same discipline as ranked_phrases).
    """
    from .rankops import grouped_rank

    toks = tokens_col(text_col)
    terms = docs.select(
        F.col(id_col), F.explode(toks).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dlen = terms.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dlen.groupBy().agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avg_dl")
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    qt = queries.select(
        "q_id", F.explode(tokens_col("q_text")).alias("term")
    ).distinct()
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(df_t, "term")
        .join(dlen, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * (float(k1) + 1.0))
            / (
                F.col("tf")
                + float(k1)
                * (1.0 - float(b) + float(b) * F.col("dl") / F.col("avg_dl"))
            ),
        )
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    ranked = grouped_rank(
        scored, "q_id", [F.desc("score"), F.asc(id_col)], rank_col="rk"
    )
    return ranked.filter(F.col("rk") <= int(top_k)).select(
        "q_id", id_col, "score", F.col("rk").cast("int").alias("rk")
    )


def bm25_topk_select(
    source_sql: str,
    queries_values: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> str:
    """DuckDB twin of ``bm25_topk``. ``queries_values`` is a VALUES
    list ``(q_id, q_text)``. Rank over the rounded score + doc-id
    tie-break, same as the engine."""
    toks = (
        f"list_filter(string_split_regex(lower({text_col}),"
        " '[^\\p{L}0-9]+'), t -> t <> '')"
    )
    qtoks = (
        "list_filter(string_split_regex(lower(q_text),"
        " '[^\\p{L}0-9]+'), t -> t <> '')"
    )
    return f"""
WITH terms AS MATERIALIZED (
  SELECT {id_col}, t.term FROM
    (SELECT {id_col}, {toks} AS ts FROM ({source_sql})) d,
    unnest(d.ts) AS t(term)
),
tf AS (SELECT {id_col}, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dlen AS (SELECT {id_col}, count(*) AS dl FROM terms GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM dlen),
df_t AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qt AS (
  SELECT DISTINCT q_id, t.term FROM
    (SELECT q_id, {qtoks} AS ts FROM (VALUES {queries_values}) q(q_id, q_text)) d,
    unnest(d.ts) AS t(term)
),
scored AS (
  SELECT qt.q_id, tf.{id_col},
         round(sum(
           ln(1.0 + (stats.n_docs - df_t.df + 0.5) / (df_t.df + 0.5))
           * (tf.tf * ({float(k1)} + 1.0))
           / (tf.tf + {float(k1)} * (1.0 - {float(b)}
              + {float(b)} * dlen.dl / stats.avg_dl))
         ), 6) AS score
  FROM tf
  JOIN qt USING (term)
  JOIN df_t USING (term)
  JOIN dlen USING ({id_col})
  CROSS JOIN stats
  GROUP BY qt.q_id, tf.{id_col}
)
SELECT CAST(q_id AS BIGINT) AS q_id, {id_col}, score,
       CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY score DESC, {id_col} ASC) AS rk
  FROM scored
) WHERE rk <= {int(top_k)}
"""
