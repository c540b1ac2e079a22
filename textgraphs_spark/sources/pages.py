"""Deterministic synthetic Common-Crawl-style `pages` source + HTML extraction.

Input contract (BASELINE.json input_hint):
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Generation is *index-addressed*: page ``i`` is a pure function of
``(seed, i)``, so the table can be produced fully in parallel from
``spark.range(n)`` with no driver-side loop and no shared state — the same
recipe works for 500 rows in a pytest and 10^12 rows on a cluster.

The generator also emits ground-truth mention labels (which true entity each
embedded surface form refers to), giving the labeled pairs required by the
north rule's pairwise-F1 ≥ 0.99 criterion.

Entity surface-form variants exercise the matcher: full name, initialed
("W. Herzog"), middle-initial, and single-transposition typos. Entity 0 is a
Zipfian hot head key appearing in a large fraction of pages — the skew case
the blocking stage must salt.

HTML→text: ``extract_text`` must invert ``render_html`` byte-identically for
every url (the per-row invariant; verified in tests/test_pages.py).
"""

from __future__ import annotations

import datetime
import random
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 26 first names with pairwise-distinct initials: within any shared last
# name, an initialed variant ("W. Herzog") is unambiguous — required for
# the pairwise-F1 >= 0.99 target to be achievable by design.
FIRST_NAMES = [
    "Anna", "Boris", "Clara", "Dmitri", "Elena", "Felix", "Greta",
    "Henrik", "Ingrid", "Jonas", "Katrin", "Lukas", "Marta", "Nikolai",
    "Olga", "Pavel", "Quentin", "Rosa", "Stefan", "Tamara", "Ulrich",
    "Viktor", "Werner", "Xenia", "Yuri", "Zelda",
]

# 29 last names; gcd(26, 29) = 1 so (i % 26, i % 29) gives unique
# first/last pairs for every entity id < 754
LAST_NAMES = [
    "Herzog", "Klein", "Vogel", "Brandt", "Fischer", "Gruber", "Hofmann",
    "Jansen", "Keller", "Lehmann", "Meyer", "Neumann", "Otten", "Pfeiffer",
    "Quast", "Richter", "Schmidt", "Tauber", "Ullrich", "Vetter", "Wagner",
    "Zimmer", "Arnold", "Baumann", "Conrad", "Dietrich", "Eberhart",
    "Falk", "Gerber",
]

PLACES = [
    "Germany", "France", "Spain", "Austria", "Poland", "Norway", "Sweden",
    "Denmark", "Finland", "Iceland", "Greece", "Portugal", "Belgium",
    "Japan", "India", "Brazil", "Canada", "Mexico", "Kenya", "Peru",
]

FILLER = (
    "the film premiere drew a large crowd and critics wrote long reviews "
    "about the remarkable staging while the festival continued for days"
).split()

_TEMPLATES = [
    "{A} is a filmmaker from {P}.",
    "{A} met {B} in {P}.",
    "{A} works with {B} on a new project.",
    "The festival in {P} honored {A}.",
    "{A} traveled from {P} to present the film.",
    "{B} praised the early work of {A}.",
]


def n_entities(n_pages: int) -> int:
    return max(20, min(n_pages // 4, len(FIRST_NAMES) * len(LAST_NAMES)))


def entity_name(ent_id: int) -> tuple[str, str]:
    # CRT pairing: unique (first, last) combination per entity id < 754
    first = FIRST_NAMES[ent_id % len(FIRST_NAMES)]
    last = LAST_NAMES[ent_id % len(LAST_NAMES)]
    return first, last


def _pick_entity(rng: random.Random, n_ents: int) -> int:
    """Zipf-ish popularity: entity 0 is the hot head key (~15% of draws)."""
    r = rng.random()
    if r < 0.15:
        return 0
    # harmonic-ish tail
    return 1 + min(int((n_ents - 1) * (rng.random() ** 2)), n_ents - 2)


def _variant(rng: random.Random, first: str, last: str) -> tuple[str, str]:
    """Render one surface form; returns (surface, variant_tag)."""
    r = rng.random()
    if r < 0.60:
        return f"{first} {last}", "full"
    if r < 0.80:
        return f"{first[0]}. {last}", "initial"
    if r < 0.90:
        mid = FIRST_NAMES[rng.randrange(len(FIRST_NAMES))][0]
        return f"{first} {mid}. {last}", "middle"
    # single transposition inside the last name (beyond first char)
    if len(last) >= 4:
        k = rng.randrange(1, len(last) - 1)
        typo = last[:k] + last[k + 1] + last[k] + last[k + 2:]
        return f"{first} {typo}", "typo"
    return f"{first} {last}", "full"


def gen_page(seed: int, i: int, n_pages: int) -> dict:
    """Generate page ``i`` deterministically; includes ground-truth labels."""
    rng = random.Random(f"pages:{seed}:{i}")
    n_ents = n_entities(n_pages)
    n_sents = rng.randint(2, 5)
    sents: list[str] = []
    truths: list[dict] = []

    for _ in range(n_sents):
        tpl = _TEMPLATES[rng.randrange(len(_TEMPLATES))]
        fills: dict[str, str] = {}
        if "{P}" in tpl:
            fills["P"] = PLACES[rng.randrange(len(PLACES))]
        for slot in ("A", "B"):
            if "{" + slot + "}" in tpl:
                ent = _pick_entity(rng, n_ents)
                first, last = entity_name(ent)
                surface, variant = _variant(rng, first, last)
                fills[slot] = surface
                truths.append({"surface": surface, "entity_id": ent, "variant": variant})
        sent = tpl.format(**fills)
        # filler clause keeps documents paragraph-sized
        pad = " ".join(FILLER[rng.randrange(len(FILLER))] for _ in range(rng.randint(3, 8)))
        sents.append(sent + " " + pad.capitalize() + ".")

    text = " ".join(sents)
    domain = f"site{i % 97}.example.com" if rng.random() > 0.05 else "hot.example.com"
    url = f"https://{domain}/page/{i}"
    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc) + datetime.timedelta(seconds=i)
    return {
        "url": url,
        "warc_ts": ts,
        "html": render_html(url, text).encode("utf-8"),
        "text": text,
        "lang": "en",
        "truth": truths,
    }


def render_html(url: str, text: str) -> str:
    return (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\"/>"
        f"<title>{url}</title></head><body>\n<nav>home | about</nav>\n"
        f"<article><p>{text}</p></article>\n<footer>generated</footer>\n"
        "</body></html>"
    )


_ARTICLE_RE = re.compile(r"<article><p>(.*?)</p></article>", re.DOTALL)


def extract_text(html: bytes) -> str:
    """Deterministic inverse of render_html — THE per-url byte-identity
    invariant (BASELINE.json input_hint)."""
    m = _ARTICLE_RE.search(html.decode("utf-8"))
    return m.group(1) if m else ""


PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("truth", T.ArrayType(T.StructType([
        T.StructField("surface", T.StringType()),
        T.StructField("entity_id", T.LongType()),
        T.StructField("variant", T.StringType()),
    ]))),
])


def synth_pages(spark: SparkSession, n_pages: int, *, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed, index-addressed page synthesis from spark.range()."""
    base = spark.range(0, n_pages, numPartitions=partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_page(seed, int(i), n_pages) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    return base.mapInPandas(gen, schema=PAGES_SCHEMA)


def pages_table(spark: SparkSession, n_pages: int, **kw) -> DataFrame:
    """The input-contract view (no truth column)."""
    return synth_pages(spark, n_pages, **kw).drop("truth")


def truth_mentions(pages_with_truth: DataFrame) -> DataFrame:
    t = pages_with_truth.select("url", F.explode("truth").alias("t"))
    return t.select("url", "t.surface", "t.entity_id", "t.variant")


def extract_text_col(df: DataFrame, html_col: str = "html") -> DataFrame:
    """html binary → extracted_text, as an Arrow-batched UDF."""

    @F.pandas_udf(T.StringType())
    def _ex(s: pd.Series) -> pd.Series:
        return s.map(lambda b: extract_text(b) if b is not None else "")

    return df.withColumn("extracted_text", _ex(F.col(html_col)))


def _arith_lists():
    """The closed vocabularies the arithmetic corpus indexes into —
    derived from the tagger gazetteers so NER labels are exercised
    (GPE + ORG), plus the name lists. Shared with the DuckDB oracle
    builder (plans/pages_oracle.py), which inlines the same lists."""
    from ..nlp import lex

    gpe = [w.title() for w in sorted(lex.GAZETTEER_GPE) if " " not in w]
    org = [w.title() for w in sorted(lex.GAZETTEER_ORG)]
    return FIRST_NAMES, LAST_NAMES, gpe, org


def arith_pages(spark: SparkSession, n_pages: int = 150) -> DataFrame:
    """Deterministic pages corpus built from PURE index arithmetic —
    no RNG at all, so a SQL oracle regenerates it bit-identically
    (synth_pages uses a Mersenne Twister, which SQL engines cannot
    reproduce; this variant exists for value-verified queries).

    One sentence per page, no punctuation:
      "{First1} {Last1} met {First2} {Last2} in {Place} near {Org} offices"
    exercising multi-token PROPN merging (PERSON), gazetteer GPE/ORG
    labels, class-IRI links, and ADP-governed dependency arcs.
    """
    fn, ln, gpe, org = _arith_lists()

    def pick(lst, expr):
        arr = F.array(*[F.lit(x) for x in lst])
        return F.element_at(arr, (expr % len(lst) + 1).cast("int"))

    i = F.col("id")
    text = F.concat_ws(
        " ",
        pick(fn, i), pick(ln, i),
        F.lit("met"),
        pick(fn, i * 7 + 3), pick(ln, i * 5 + 11),
        F.lit("in"), pick(gpe, i),
        F.lit("near"), pick(org, i * 3 + 1),
        F.lit("offices"),
    )
    return spark.range(0, n_pages).select(i.alias("doc_id"), text.alias("text"))


def typo_surface(s: str) -> str:
    """Deterministic character transposition: swap the 2nd and 3rd
    characters ('Tokyo' → 'Tkoyo'). Pure string arithmetic, shared with
    the SQL oracle builder (which inlines the transformed list)."""
    return s[0] + s[2] + s[1] + s[3:] if len(s) >= 3 else s


def arith_pages_typos(spark: SparkSession, n_pages: int = 150) -> DataFrame:
    """``arith_pages`` with a deterministic TYPO channel: every 5th page
    spells its place name with a transposed character ('in Tkoyo'), so
    the mention is a capitalized PROPN entity that the gazetteer does NOT
    label and exact-surface catalog linking cannot resolve — the corpus
    for the second-pass (fuzzy alias) linking query. RNG-free like the
    base corpus; the oracle regenerates it from the same index formulas
    and the same typo'd list."""
    fn, ln, gpe, org = _arith_lists()
    gpe_t = [typo_surface(w) for w in gpe]

    def pick(lst, expr):
        arr = F.array(*[F.lit(x) for x in lst])
        return F.element_at(arr, (expr % len(lst) + 1).cast("int"))

    i = F.col("id")
    place = F.when(i % 5 == 0, pick(gpe_t, i)).otherwise(pick(gpe, i))
    text = F.concat_ws(
        " ",
        pick(fn, i), pick(ln, i),
        F.lit("met"),
        pick(fn, i * 7 + 3), pick(ln, i * 5 + 11),
        F.lit("in"), place,
        F.lit("near"), pick(org, i * 3 + 1),
        F.lit("offices"),
    )
    return spark.range(0, n_pages).select(i.alias("doc_id"), text.alias("text"))


def url_pages(spark: SparkSession, n_pages: int = 360, n_groups: int = 120) -> DataFrame:
    """Deterministic URL corpus for canonicalization/dedup queries —
    pure index arithmetic like ``arith_pages``, so a DuckDB oracle
    regenerates it bit-identically (``url_pages_sql`` below).

    Page ``i`` renders group ``g = i % n_groups`` through variant
    ``v = i // n_groups`` (three variants per group):

    * v=0 — plain https URL; odd groups carry kept params in the
      WRONG order (``?b=2&a=1``) so param sorting is exercised.
    * v=1 — http + ``www.`` prefix + a ``utm_source`` tracking param
      spliced BETWEEN the kept params.
    * v=2 — trailing slash on the path, a ``ref`` tracking param
      before the kept params, and a ``#sec`` fragment.

    All three variants of a group canonicalize to the same URL:
    ``example{g%5}.com/articles/{g}`` (+ ``?a=1&b=2`` for odd groups).
    """
    i = F.col("id")
    g = i % n_groups
    v = F.floor(i / n_groups)
    dom = F.format_string("example%d.com", (g % 5).cast("int"))
    path = F.format_string("/articles/%d", g.cast("int"))
    kept = (g % 2 == 1)
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://"), dom, path,
            F.when(kept, F.lit("?b=2&a=1")).otherwise(F.lit("")),
        ))
        .when(v == 1, F.concat(
            F.lit("http://www."), dom, path,
            F.when(kept, F.lit("?a=1&utm_source=feed&b=2"))
             .otherwise(F.lit("?utm_source=feed")),
        ))
        .otherwise(F.concat(
            F.lit("https://"), dom, path, F.lit("/"),
            F.when(kept, F.lit("?ref=home&a=1&b=2")).otherwise(F.lit("?ref=home")),
            F.lit("#sec"),
        ))
    )
    return spark.range(0, n_pages).select(i.alias("doc_id"), url.alias("url"))


_BOILER_LINES = [
    "subscribe to our newsletter for weekly updates",
    "all rights reserved unauthorized reproduction prohibited",
    "this site uses cookies to improve your experience",
    "click here to read the full article",
    "share this story on social media",
    "sign in to leave a comment",
    "advertisement continue reading below",
    "back to top of page",
]


def boiler_pages(spark: SparkSession, n_pages: int = 400) -> DataFrame:
    """Deterministic multi-line page corpus for boilerplate-REMOVAL
    queries — pure index arithmetic (RNG-free), regenerated
    bit-identically by ``boiler_pages_sql``.

    Page ``i`` is five newline-joined lines:

    * two TEMPLATE lines from the 8-entry ``_BOILER_LINES`` pool
      (``i % 8`` and ``(i*3 + 1) % 8``) — corpus-wide df ≈ n_pages/8,
      always removed at any sane ``min_df``;
    * two UNIQUE content lines (index formulas) — never removed;
    * one GROUP footer ``footer group {i % 150}`` whose df straddles
      the default ``min_df=3``: residues with 3 occurrences are
      removed, residues with 2 survive — the boundary a correct
      >=-threshold must respect.
    """
    i = F.col("id")
    boiler = F.array(*[F.lit(x) for x in _BOILER_LINES])
    l0 = F.element_at(boiler, (i % 8 + 1).cast("int"))
    l1 = F.format_string(
        "item %d value %d note %d",
        i.cast("int"), (i * 7 % 97).cast("int"), (i * 13 % 53).cast("int"),
    )
    l2 = F.element_at(boiler, ((i * 3 + 1) % 8 + 1).cast("int"))
    l3 = F.format_string("report %d entry %d", (i * 5 % 89).cast("int"), i.cast("int"))
    l4 = F.format_string("footer group %d", (i % 150).cast("int"))
    text = F.concat_ws("\n", l0, l1, l2, l3, l4)
    return spark.range(0, n_pages).select(i.alias("doc_id"), text.alias("text"))


def boiler_pages_sql(n_pages: int = 400) -> str:
    """DuckDB twin of ``boiler_pages`` — keep the index formulas and the
    template pool in lockstep."""
    pool = ", ".join("'" + x + "'" for x in _BOILER_LINES)
    return f"""
SELECT i AS doc_id,
  b[CAST(i % 8 + 1 AS INT)] || chr(10) ||
  'item ' || i || ' value ' || (i * 7 % 97) || ' note ' || (i * 13 % 53) || chr(10) ||
  b[CAST((i * 3 + 1) % 8 + 1 AS INT)] || chr(10) ||
  'report ' || (i * 5 % 89) || ' entry ' || i || chr(10) ||
  'footer group ' || (i % 150) AS text
FROM (SELECT t.i, [{pool}] AS b FROM range(0, {n_pages}) t(i))
"""


def url_pages_sql(n_pages: int = 360, n_groups: int = 120) -> str:
    """DuckDB twin of ``url_pages``: regenerates (doc_id, url) from the
    same index formulas — keep the two in lockstep."""
    return f"""
SELECT i AS doc_id,
  CASE WHEN v = 0 THEN 'https://' || dom || path ||
         CASE WHEN kept THEN '?b=2&a=1' ELSE '' END
       WHEN v = 1 THEN 'http://www.' || dom || path ||
         CASE WHEN kept THEN '?a=1&utm_source=feed&b=2' ELSE '?utm_source=feed' END
       ELSE 'https://' || dom || path || '/' ||
         CASE WHEN kept THEN '?ref=home&a=1&b=2' ELSE '?ref=home' END || '#sec'
  END AS url
FROM (
  SELECT t.i, (t.i % {n_groups}) // 1 AS g, t.i // {n_groups} AS v,
         'example' || ((t.i % {n_groups}) % 5) || '.com' AS dom,
         '/articles/' || (t.i % {n_groups}) AS path,
         (t.i % {n_groups}) % 2 = 1 AS kept
  FROM range(0, {n_pages}) t(i)
)
"""


def pii_pages(spark: SparkSession, n_pages: int = 400) -> DataFrame:
    """Deterministic page corpus for the PII family — pure index
    arithmetic (RNG-free), regenerated bit-identically by
    ``pii_pages_sql``. Page ``i`` mixes, on residue-controlled lines:

    * emails (``i % 3 == 0``), one line with TWO emails (``i % 11 == 7``);
    * 3-3-4 phone numbers (``i % 4 == 1``);
    * dotted-quad IPs (``i % 5 == 2``) with octets spanning 1–3 digits;
    * 3-2-4 SSN-shaped ids (``i % 7 == 3``);
    * NEGATIVE decoys on every page (version strings, decimals) and on
      ``i % 6 == 5`` (``user@localhost`` — no TLD; short decimals) that
      a correct pattern set must NOT count or rewrite.
    """
    i = F.col("id")

    def d(x):
        return x.cast("int")

    l0 = F.format_string(
        "article %d body text with price 3.50 and version 1.2.3", d(i)
    )
    l1 = F.when(
        i % 3 == 0,
        F.format_string("contact user%d@example%d.com for details", d(i), d(i % 5)),
    )
    l2 = F.when(
        i % 4 == 1,
        F.format_string(
            "call 555-%d-%d today", d(i * 7 % 900 + 100), d(i * 11 % 9000 + 1000)
        ),
    )
    l3 = F.when(
        i % 5 == 2,
        F.format_string(
            "served from 10.%d.%d.%d", d(i % 256), d(i * 3 % 256), d(i % 100)
        ),
    )
    l4 = F.when(
        i % 7 == 3, F.format_string("ref 123-45-%d", d(i % 9000 + 1000))
    )
    l5 = F.when(
        i % 6 == 5, F.lit("user@localhost and 12.34 are not pii")
    )
    l6 = F.when(
        i % 11 == 7,
        F.format_string("mail a%d@b%d.org or c%d@d%d.net", d(i), d(i % 3), d(i), d(i % 3)),
    )
    text = F.concat_ws("\n", l0, l1, l2, l3, l4, l5, l6)
    return spark.range(0, n_pages).select(i.alias("doc_id"), text.alias("text"))


def pii_pages_sql(n_pages: int = 400) -> str:
    """DuckDB twin of ``pii_pages`` — keep the residues and formats in
    lockstep."""
    return f"""
SELECT i AS doc_id,
  concat_ws(chr(10),
    'article ' || i || ' body text with price 3.50 and version 1.2.3',
    CASE WHEN i % 3 = 0 THEN
      'contact user' || i || '@example' || (i % 5) || '.com for details' END,
    CASE WHEN i % 4 = 1 THEN
      'call 555-' || (i * 7 % 900 + 100) || '-' || (i * 11 % 9000 + 1000) || ' today' END,
    CASE WHEN i % 5 = 2 THEN
      'served from 10.' || (i % 256) || '.' || (i * 3 % 256) || '.' || (i % 100) END,
    CASE WHEN i % 7 = 3 THEN 'ref 123-45-' || (i % 9000 + 1000) END,
    CASE WHEN i % 6 = 5 THEN 'user@localhost and 12.34 are not pii' END,
    CASE WHEN i % 11 = 7 THEN
      'mail a' || i || '@b' || (i % 3) || '.org or c' || i || '@d' || (i % 3) || '.net' END
  ) AS text
FROM range(0, {n_pages}) t(i)
"""


def gopher_pages(spark: SparkSession, n_pages: int = 400) -> DataFrame:
    """Deterministic page corpus for the Gopher-rule census — pure
    index arithmetic (RNG-free), regenerated bit-identically by
    ``gopher_pages_sql``. Residue ``i % 13`` selects exactly ONE rule
    violation per page (all other rules still pass on that page, so the
    census attributes every failure to its own rule):

    * 1 → 6 words (< 50)                      — fails word_count
    * 2 → 15.5-char average words             — fails mean_word_len
    * 3 → 10 standalone ``#`` of 71 words     — fails symbol_ratio
    * 4 → 10/10 lines start with ``- ``       — fails bullet_lines
    * 5 → 10/15 lines end with ``...``/``…``  — fails ellipsis_lines
    * 6 → 20 numeric tokens of 81 words       — fails alpha_words
    * 7 → zero Gopher stopwords in 56 words   — fails stop_words
    * else (6/13 of pages)                    — passes every rule
    """
    i = F.col("id")
    base = F.concat(
        F.format_string("page %d of the corpus with words that have value to be used",
                        i.cast("int")),
        F.expr("repeat(' data quality filter corpus token mix', 8)"),
    )
    ell_unit = ("plain line about the corpus of record\n"
                "noted line trails away the record of it...\n"
                "more line drifts beyond the record of it…\n")
    text = (
        F.when(i % 13 == 1, F.format_string("the tiny little page of %d", i.cast("int")))
        .when(i % 13 == 2, F.concat(
            F.lit("the of"), F.expr("repeat(' extraordinarily incomprehensible', 30)")))
        .when(i % 13 == 3, F.concat(base, F.expr("repeat(' #', 10)")))
        .when(i % 13 == 4, F.expr(
            "repeat('- the item list of entry records here\\n', 10)"))
        .when(i % 13 == 5, F.lit(ell_unit * 5))
        .when(i % 13 == 6, F.concat(base, F.expr("repeat(' 1234567', 20)")))
        .when(i % 13 == 7, F.concat(
            F.lit("corpus data"),
            F.expr("repeat(' corpus token filter quality data mix', 9)")))
        .otherwise(base)
    )
    return spark.range(0, n_pages).select(i.alias("doc_id"), text.alias("text"))


def gopher_pages_sql(n_pages: int = 400) -> str:
    """DuckDB twin of ``gopher_pages`` — keep residues and literals in
    lockstep."""
    ell_unit = ("plain line about the corpus of record\n"
                "noted line trails away the record of it...\n"
                "more line drifts beyond the record of it…\n")
    ell = (ell_unit * 5).replace("\n", "' || chr(10) || '")
    return f"""
SELECT i AS doc_id,
  CASE
    WHEN i % 13 = 1 THEN 'the tiny little page of ' || i
    WHEN i % 13 = 2 THEN 'the of' || repeat(' extraordinarily incomprehensible', 30)
    WHEN i % 13 = 3 THEN 'page ' || i || ' of the corpus with words that have value to be used'
                         || repeat(' data quality filter corpus token mix', 8)
                         || repeat(' #', 10)
    WHEN i % 13 = 4 THEN repeat('- the item list of entry records here' || chr(10), 10)
    WHEN i % 13 = 5 THEN '{ell}'
    WHEN i % 13 = 6 THEN 'page ' || i || ' of the corpus with words that have value to be used'
                         || repeat(' data quality filter corpus token mix', 8)
                         || repeat(' 1234567', 20)
    WHEN i % 13 = 7 THEN 'corpus data' || repeat(' corpus token filter quality data mix', 9)
    ELSE 'page ' || i || ' of the corpus with words that have value to be used'
         || repeat(' data quality filter corpus token mix', 8)
  END AS text
FROM range(0, {n_pages}) t(i)
"""


def c4_pages(spark: SparkSession, n_pages: int = 440) -> DataFrame:
    """Deterministic page corpus for the C4 line-filter — pure index
    arithmetic (RNG-free), regenerated bit-identically by
    ``c4_pages_sql``. Residue ``i % 11`` selects exactly one violation
    (line-level rules dropping lines, or a page gate):

    * 1 → no line ends in terminal punctuation   — 0 kept, page dropped
    * 2 → every line under 5 words               — 0 kept, page dropped
    * 3 → 2 of 4 lines mention javascript        — 2 kept, < 3 sentences
    * 4 → 2 of 4 lines are policy boilerplate    — 2 kept, < 3 sentences
    * 5 → clean lines + a lorem-ipsum line       — page gate fails
    * 6 → clean lines + a '{' code line          — page gate fails
    * 7 → clean lines + a badword line           — page gate fails
    * 8 → only two clean lines                   — sentence gate fails
    * else (3/11 of pages)                       — kept intact
    """
    i = F.col("id")
    l1 = F.format_string("page %d corpus line one carries the signal.",
                         i.cast("int"))
    l2 = "the second corpus line also carries weight."
    l3 = "a third line of the corpus follows through."
    l4 = "the fourth line closes the record cleanly."
    nl = "\n"
    base = F.concat(l1, F.lit(nl + l2 + nl + l3 + nl + l4))
    text = (
        F.when(i % 11 == 1, F.concat(
            F.format_string("page %d corpus line one carries the signal",
                            i.cast("int")),
            F.lit(nl + l2[:-1] + nl + l3[:-1] + nl + l4[:-1])))
        .when(i % 11 == 2, F.lit(
            "tiny line one." + nl + "small two here." + nl
            + "short three now." + nl + "lil four done."))
        .when(i % 11 == 3, F.concat(l1, F.lit(
            nl + "please enable javascript to view this page."
            + nl + l2
            + nl + "our site needs javascript running to work well.")))
        .when(i % 11 == 4, F.concat(l1, F.lit(
            nl + "read the privacy policy for the details here."
            + nl + l2
            + nl + "the cookie policy covers all tracking matters here.")))
        .when(i % 11 == 5, F.concat(base, F.lit(
            nl + "lorem ipsum dolor sit amet consectetur adipiscing elit.")))
        .when(i % 11 == 6, F.concat(base, F.lit(
            nl + "var config = { mode: corpus }")))
        .when(i % 11 == 7, F.concat(base, F.lit(
            nl + "the page holds one obscenity within the corpus text.")))
        .when(i % 11 == 8, F.concat(l1, F.lit(nl + l2)))
        .otherwise(base)
    )
    return spark.range(0, n_pages).select(i.alias("doc_id"), text.alias("text"))


def c4_pages_sql(n_pages: int = 440) -> str:
    """DuckDB twin of ``c4_pages`` — keep residues and literals in
    lockstep."""
    l2 = "the second corpus line also carries weight."
    l3 = "a third line of the corpus follows through."
    l4 = "the fourth line closes the record cleanly."
    nl = "' || chr(10) || '"
    base = ("'page ' || i || ' corpus line one carries the signal.'"
            f" || chr(10) || '{l2}{nl}{l3}{nl}{l4}'")
    return f"""
SELECT i AS doc_id,
  CASE
    WHEN i % 11 = 1 THEN 'page ' || i || ' corpus line one carries the signal'
         || chr(10) || '{l2[:-1]}{nl}{l3[:-1]}{nl}{l4[:-1]}'
    WHEN i % 11 = 2 THEN 'tiny line one.{nl}small two here.{nl}short three now.{nl}lil four done.'
    WHEN i % 11 = 3 THEN 'page ' || i || ' corpus line one carries the signal.'
         || chr(10) || 'please enable javascript to view this page.'
         || chr(10) || '{l2}'
         || chr(10) || 'our site needs javascript running to work well.'
    WHEN i % 11 = 4 THEN 'page ' || i || ' corpus line one carries the signal.'
         || chr(10) || 'read the privacy policy for the details here.'
         || chr(10) || '{l2}'
         || chr(10) || 'the cookie policy covers all tracking matters here.'
    WHEN i % 11 = 5 THEN {base}
         || chr(10) || 'lorem ipsum dolor sit amet consectetur adipiscing elit.'
    WHEN i % 11 = 6 THEN {base}
         || chr(10) || 'var config = {{ mode: corpus }}'
    WHEN i % 11 = 7 THEN {base}
         || chr(10) || 'the page holds one obscenity within the corpus text.'
    WHEN i % 11 = 8 THEN 'page ' || i || ' corpus line one carries the signal.'
         || chr(10) || '{l2}'
    ELSE {base}
  END AS text
FROM range(0, {n_pages}) t(i)
"""


def capture_pages(spark: SparkSession, n_urls: int = 120, n_caps: int = 5) -> DataFrame:
    """Deterministic multi-capture crawl corpus for snapshot-diffing
    queries — ``n_caps`` captures per url at daily ``warc_ts`` intervals,
    pure index arithmetic (RNG-free; ``capture_pages_sql`` regenerates it
    bit-identically).

    Capture ``c`` of url ``u`` renders revision ``rev(u, c)`` = the most
    recent ``j <= c`` at which the page changed, where change events are
    the deterministic predicate ``(u*31 + j*17) % 5 < 2`` (about 40% of
    captures). Consecutive captures of an unchanged page are BYTE-EQUAL
    (hamming 0); a revision bump rewrites four body tokens.
    """
    i = F.col("id")
    u = F.floor(i / n_caps)
    c = i % n_caps
    chg = [None] + [((u * 31 + F.lit(j) * 17) % 5 < 2) for j in range(1, n_caps)]
    rev = F.lit(0).cast("long")
    for j in range(1, n_caps):
        rev = F.greatest(rev, F.when((F.lit(j) <= c) & chg[j], F.lit(j)).otherwise(F.lit(0)).cast("long"))
    url = F.format_string("https://site%d.example.com/page/%d", (u % 7).cast("int"), u.cast("int"))
    ts = F.expr(f"timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, cast(id % {n_caps} as int), 0, 0, 0)")
    text = F.format_string(
        "site page %d revision %d alpha %d beta %d gamma %d delta %d",
        u.cast("int"), rev.cast("int"),
        ((u * 7 + rev * 13) % 97).cast("int"),
        ((u * 11 + rev * 29) % 89).cast("int"),
        ((u * 13 + rev * 37) % 83).cast("int"),
        ((u * 17 + rev * 41) % 79).cast("int"),
    )
    return spark.range(0, n_urls * n_caps).select(
        i.alias("doc_id"), url.alias("url"), ts.alias("warc_ts"), text.alias("text"),
    )


def capture_pages_sql(n_urls: int = 120, n_caps: int = 5) -> str:
    """DuckDB twin of ``capture_pages`` — keep the change predicate and
    the body-token formulas in lockstep."""
    rev_terms = ", ".join(
        f"CASE WHEN {j} <= c AND (u*31 + {j}*17) % 5 < 2 THEN {j} ELSE 0 END"
        for j in range(1, n_caps)
    )
    return f"""
SELECT i AS doc_id,
  'https://site' || (u % 7) || '.example.com/page/' || u AS url,
  TIMESTAMP '2024-01-01 00:00:00' + c * INTERVAL 1 DAY AS warc_ts,
  'site page ' || u || ' revision ' || rev ||
  ' alpha ' || ((u*7 + rev*13) % 97) ||
  ' beta '  || ((u*11 + rev*29) % 89) ||
  ' gamma ' || ((u*13 + rev*37) % 83) ||
  ' delta ' || ((u*17 + rev*41) % 79) AS text
FROM (
  SELECT i, u, c, greatest(0, {rev_terms}) AS rev
  FROM (SELECT t.i, t.i // {n_caps} AS u, t.i % {n_caps} AS c
        FROM range(0, {n_urls * n_caps}) t(i))
)
"""


def mirror_pages(spark: SparkSession, n_pages: int = 400) -> DataFrame:
    """Deterministic mirrored-host corpus for mirror-detection queries —
    pure index arithmetic (RNG-free; ``mirror_pages_sql`` regenerates it
    bit-identically).

    Page ``i`` carries content group ``g = i % 160`` as copy ``v = i //
    160``; content group ``g`` belongs to farm universe ``w = g % 4``
    whose three hosts are ``mirror{3w}.org`` (originals, v=0),
    ``mirror{3w+1}.org`` (full mirror, v=1) and ``mirror{3w+2}.org``
    (partial mirror, v=2, groups 0-79 only). Content never crosses
    universes, so transitive closure must find exactly FOUR 3-host
    farms — and pair overlaps differ (full vs partial mirror). Paths
    differ per copy — mirrors replicate CONTENT, not urls — so url
    dedup cannot find them and the content-hash channel must.
    """
    i = F.col("id")
    g = i % 160
    v = F.floor(i / 160)
    h = (g % 4) * 3 + v
    url = F.format_string(
        "https://mirror%d.org/doc/%d-%d", h.cast("int"), g.cast("int"), v.cast("int")
    )
    text = F.format_string(
        "article %d body %d %d %d",
        g.cast("int"), (g * 7 % 97).cast("int"),
        (g * 11 % 89).cast("int"), (g * 13 % 83).cast("int"),
    )
    return spark.range(0, n_pages).select(
        i.alias("doc_id"), url.alias("url"), text.alias("text"),
    )


def mirror_pages_sql(n_pages: int = 400) -> str:
    """DuckDB twin of ``mirror_pages`` — keep the host/group formulas in
    lockstep."""
    return f"""
SELECT i AS doc_id,
  'https://mirror' || h || '.org/doc/' || g || '-' || v AS url,
  'article ' || g || ' body ' || (g*7 % 97) || ' ' || (g*11 % 89) || ' ' || (g*13 % 83) AS text
FROM (
  SELECT t.i, t.i % 160 AS g, t.i // 160 AS v,
         ((t.i % 160) % 4) * 3 + t.i // 160 AS h
  FROM range(0, {n_pages}) t(i)
)
"""


def trap_pages(spark: SparkSession, n_pages: int = 400) -> DataFrame:
    """Deterministic crawler-trap corpus — (doc_id, url). Pure index
    arithmetic (``trap_pages_sql`` regenerates it bit-identically).

    Page ``i`` by ``i % 4``:

    * 0, 1 — organic hosts ``org{0,1}.example``: digit-free word paths
      ``/xxx/yyy`` drawn from 17×13 letter combinations, so template
      count tracks url count (trap_score ~ 0).
    * 2 — ``cal.example``, a calendar trap: ``/events/2024/{m}/{d}``
      with a per-fetch ``?sid=`` — every url distinct, ONE template
      after digit collapse and query stripping.
    * 3 — ``session.example``, a session-id trap: ``/view/{8-hex}`` —
      every url distinct, one template after the hex-run collapse.
    """
    i = F.col("id")
    m = i % 4
    w1 = F.expr("repeat(char(97 + (id * 7) % 17), 3)")
    w2 = F.expr("repeat(char(97 + (id * 11) % 13), 3)")
    hexid = F.format_string("%08x", (i * 2654435761 % 4294967296).cast("long"))
    url = (
        F.when(m < 2, F.format_string(
            "https://org%d.example/%s/%s", m.cast("int"), w1, w2))
        .when(m == 2, F.format_string(
            "https://cal.example/events/2024/%d/%d?sid=%d",
            ((i * 3) % 12 + 1).cast("int"), ((i * 5) % 28 + 1).cast("int"),
            i.cast("int")))
        .otherwise(F.concat(F.lit("https://session.example/view/"), hexid))
    )
    return spark.range(0, n_pages).select(i.alias("doc_id"), url.alias("url"))


def trap_pages_sql(n_pages: int = 400) -> str:
    """DuckDB twin of ``trap_pages`` — keep the path formulas in
    lockstep."""
    return f"""
SELECT i AS doc_id,
  CASE WHEN i % 4 < 2 THEN
         'https://org' || (i % 4) || '.example/'
           || repeat(chr(97 + CAST((i * 7) % 17 AS INT)), 3) || '/'
           || repeat(chr(97 + CAST((i * 11) % 13 AS INT)), 3)
       WHEN i % 4 = 2 THEN
         'https://cal.example/events/2024/' || ((i * 3) % 12 + 1) || '/'
           || ((i * 5) % 28 + 1) || '?sid=' || i
       ELSE 'https://session.example/view/' || printf('%08x', i * 2654435761 % 4294967296)
  END AS url
FROM range(0, {n_pages}) t(i)
"""


def redirect_pages(spark: SparkSession, n_groups: int = 60) -> DataFrame:
    """Deterministic redirect map — (url, redirect_to). Pure index
    arithmetic (``redirect_pages_sql`` regenerates it bit-identically).

    6 urls per group ``https://h{g%7}.example/r/{g}/{p}``; group ``g``
    by ``g % 10``:

    * 9 — cycle group: p0→p1→p2→p0 (3-cycle), p3→p0 (feeds the cycle,
      equally unresolvable), p4/p5 landing pages.
    * 4 — p5 redirects OFF-CRAWL (``https://offsite.example/{g}``, no
      row of its own) — lands there in 1 hop.
    * otherwise — a chain of length ``c = g % 5``: p < c redirects to
      p+1, p ≥ c lands; so p resolves to position c in c−p hops.
    """
    i = F.col("id")
    g = (i / 6).cast("long")
    p = i % 6
    u = F.format_string(
        "https://h%d.example/r/%d/%d", (g % 7).cast("int"),
        g.cast("int"), p.cast("int"))

    def _at(pos):
        return F.format_string(
            "https://h%d.example/r/%d/%d", (g % 7).cast("int"),
            g.cast("int"), pos.cast("int"))

    c = g % 5
    redirect = (
        F.when((g % 10 == 9) & (p <= 2), _at((p + 1) % 3))
        .when((g % 10 == 9) & (p == 3), _at(F.lit(0)))
        .when((g % 10 == 9), F.lit(None).cast("string"))
        .when((g % 10 == 4) & (p == 5),
              F.format_string("https://offsite.example/%d", g.cast("int")))
        .when(p < c, _at(p + 1))
        .otherwise(F.lit(None).cast("string"))
    )
    return spark.range(0, 6 * n_groups).select(
        u.alias("url"), redirect.alias("redirect_to")
    )


def redirect_pages_sql(n_groups: int = 60) -> str:
    """DuckDB twin of ``redirect_pages`` — keep the CASE arms in
    lockstep."""
    at = "'https://h' || (g % 7) || '.example/r/' || g || '/' || {pos}"
    return f"""
SELECT {at.format(pos='p')} AS url,
  CASE
    WHEN g % 10 = 9 AND p <= 2 THEN {at.format(pos='((p + 1) % 3)')}
    WHEN g % 10 = 9 AND p = 3 THEN {at.format(pos='0')}
    WHEN g % 10 = 9 THEN NULL
    WHEN g % 10 = 4 AND p = 5 THEN 'https://offsite.example/' || g
    WHEN p < g % 5 THEN {at.format(pos='(p + 1)')}
    ELSE NULL
  END AS redirect_to
FROM (SELECT i // 6 AS g, i % 6 AS p FROM range(0, {6 * n_groups}) t(i))
"""


def soft404_pages(spark: SparkSession, n_pages: int = 400) -> DataFrame:
    """Deterministic soft-404 corpus — (doc_id, url, text). Pure index
    arithmetic (``soft404_pages_sql`` regenerates it bit-identically).

    Page ``i`` by ``i % 4``:

    * 0, 1 — organic hosts ``org{0,1}.example``: every url has its own
      body (dominant_share stays ~1/n).
    * 2 — ``dead.example``: 7 of every 10 urls answer the SAME
      "not found" body (dominant_share ≈ 0.7 → suspect).
    * 3, i < 12 — ``sparse.example``: 3 urls, all identical — ABOVE the
      share bar but BELOW the ``min_urls`` evidence floor.
    * 3, i ≥ 12 — folds into ``org2.example`` organic pages.
    """
    i = F.col("id")
    m = i % 4
    url = (
        F.when(m < 2, F.format_string(
            "https://org%d.example/p/%d", m.cast("int"), i.cast("int")))
        .when(m == 2, F.format_string(
            "https://dead.example/p/%d", i.cast("int")))
        .when(i < 12, F.format_string(
            "https://sparse.example/p/%d", i.cast("int")))
        .otherwise(F.format_string(
            "https://org2.example/p/%d", i.cast("int")))
    )
    text = (
        F.when((m == 2) & ((i / 4).cast("long") % 10 < 7),
               F.lit("page not found"))
        .when((m == 3) & (i < 12), F.lit("domain parked"))
        .otherwise(F.format_string("article %d", i.cast("int")))
    )
    return spark.range(0, n_pages).select(
        i.alias("doc_id"), url.alias("url"), text.alias("text")
    )


def soft404_pages_sql(n_pages: int = 400) -> str:
    """DuckDB twin of ``soft404_pages`` — keep the CASE arms in
    lockstep."""
    return f"""
SELECT i AS doc_id,
  CASE WHEN i % 4 < 2 THEN 'https://org' || (i % 4) || '.example/p/' || i
       WHEN i % 4 = 2 THEN 'https://dead.example/p/' || i
       WHEN i < 12 THEN 'https://sparse.example/p/' || i
       ELSE 'https://org2.example/p/' || i
  END AS url,
  CASE WHEN i % 4 = 2 AND (i // 4) % 10 < 7 THEN 'page not found'
       WHEN i % 4 = 3 AND i < 12 THEN 'domain parked'
       ELSE 'article ' || i
  END AS text
FROM range(0, {n_pages}) t(i)
"""


def pld_pages(spark: SparkSession, n_pages: int = 420) -> DataFrame:
    """Deterministic multi-level-TLD URL corpus for registered-domain
    (pay-level-domain) extraction — (doc_id, url, host), pure index
    arithmetic (RNG-free; ``pld_pages_sql`` regenerates it
    bit-identically).

    Host ``i`` composes prefix ``P[i % 5]`` + name ``D[(i//5) % 8]``
    + "." + suffix ``S[(i//40) % 6]``; every multiple of 83 is the bare
    suffix alone (a suffix-only host — no registrable part). The suffix
    pool deliberately includes multi-label suffixes ("co.uk", "ac.jp")
    to exercise longest-match against single-label "uk", and "xyz"
    which is NOT in the operator's default suffix list, to exercise the
    PSL "*" fallback (last label treated as the public suffix).
    """
    i = F.col("id")
    pick = lambda xs, idx: F.element_at(  # noqa: E731
        F.array(*[F.lit(x) for x in xs]), (idx + 1).cast("int")
    )
    pfx = pick(_PLD_PREFIXES, i % 5)
    name = pick(_PLD_NAMES, (F.floor(i / 5)) % 8)
    suf = pick(_PLD_SUFFIXES, (F.floor(i / 40)) % 6)
    host = F.when(i % 83 == 0, suf).otherwise(F.concat(pfx, name, F.lit("."), suf))
    return spark.range(0, n_pages).select(
        i.alias("doc_id"),
        F.format_string("https://%s/p/%d", host, i.cast("int")).alias("url"),
        host.alias("host"),
    )


_PLD_PREFIXES = ["", "www.", "blog.", "cdn.static.", "a.b."]
_PLD_NAMES = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
_PLD_SUFFIXES = ["com", "org", "net", "co.uk", "ac.jp", "xyz"]


def pld_pages_sql(n_pages: int = 420) -> str:
    """DuckDB twin of ``pld_pages`` — keep the component pools and the
    index arithmetic in lockstep."""
    lst = lambda xs: "[" + ", ".join(f"'{x}'" for x in xs) + "]"  # noqa: E731
    return f"""
SELECT i AS doc_id,
  'https://' || host || '/p/' || i AS url,
  host
FROM (
  SELECT t.i AS i,
    CASE WHEN t.i % 83 = 0
         THEN ({lst(_PLD_SUFFIXES)})[CAST((t.i // 40) % 6 AS INT) + 1]
         ELSE ({lst(_PLD_PREFIXES)})[CAST(t.i % 5 AS INT) + 1]
           || ({lst(_PLD_NAMES)})[CAST((t.i // 5) % 8 AS INT) + 1]
           || '.'
           || ({lst(_PLD_SUFFIXES)})[CAST((t.i // 40) % 6 AS INT) + 1]
    END AS host
  FROM range(0, {n_pages}) t(i)
)
"""
