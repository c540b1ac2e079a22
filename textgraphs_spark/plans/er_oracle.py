"""DuckDB oracle SQL for the flagship ER pipeline.

Generates, from the SAME lex tables the Python tagger uses
(``textgraphs_spark.nlp.lex``), an ANSI-ish SQL reproduction of the whole
chain: tokenize → POS-tag → lemmatize → entity universe → blocking (exact
key + md5-family MinHash bands) → Jaro-Winkler name scoring → transitive
clustering (recursive CTE) → cluster summary. The driver runs it on
DuckDB against the raw ``documents`` table and hash-compares with the
Spark result, making the flagship query value-verified end to end.

Preconditions (asserted by the corpus this oracle is used on, the
driver's synthetic ``documents`` tables — lowercase ``[a-z0-9 ]`` text):

* no uppercase characters → the tagger's PROPN branch, NER merging, and
  sentence-initial special case never fire;
* no sentence punctuation → one sentence per document, so doc-global
  and sentence-local token indices coincide;
* no blocking key exceeds ``max_block_size`` → salting never triggers
  (salt shards use xxhash64, which DuckDB cannot reproduce).

The SQL is generated (IN-lists, CASE cascades, 16 signature columns)
rather than handwritten, so a lex edit changes both engines in lockstep.
"""

from __future__ import annotations

from ..nlp import lex
from ..operators.blocking import minhash_xor_constants
from ..operators.graphops import BALL_MAX_ITER


def _inlist(words) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(words))


def _irregular_case(col: str) -> str:
    """CASE mapping surface → irregular lemma (lex.IRREGULAR_LEMMA)."""
    whens = "\n      ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(lex.IRREGULAR_LEMMA.items())
    )
    return f"CASE {col}\n      {whens}\n      ELSE NULL END"


def _verb_s_test(col: str) -> str:
    """SQL for ``lemmatize(tok, 'VERB') in lex.VERB`` where tok ends in
    's' (the only context _tag uses it) — mirrors nlp/pipeline.py:100."""
    verbs = _inlist(lex.VERB)
    irr_verb = [k for k, v in lex.IRREGULAR_LEMMA.items() if v in lex.VERB]
    return f"""(
    CASE
      WHEN {col} IN ({_inlist(irr_verb)}) THEN TRUE
      WHEN {col} LIKE '%ies' AND length({col}) > 4
        THEN substr({col}, 1, length({col}) - 3) || 'y' IN ({verbs})
      WHEN {col} LIKE '%es' AND length({col}) > 3
           AND substr({col}, length({col}) - 2, 1) IN ('s', 'x', 'z', 'o')
        THEN substr({col}, 1, length({col}) - 2) IN ({verbs})
      WHEN {col} LIKE '%s' AND {col} NOT LIKE '%ss'
           AND {col} NOT LIKE '%us' AND {col} NOT LIKE '%is'
           AND length({col}) > 3
        THEN substr({col}, 1, length({col}) - 1) IN ({verbs})
      ELSE {col} IN ({verbs})
    END)"""


def tag_case(col: str, *, mixed_case: bool = False, sent_initial: str = "FALSE") -> str:
    """The full _tag cascade (nlp/pipeline.py:67-103). Dictionary and
    suffix tests run on the lowercase form (as the Python tagger does);
    with ``mixed_case`` the PROPN branch is included at its cascade
    position, gated by the ``sent_initial`` SQL predicate and the
    COMMON_WORDS exemption."""
    irr_verb = [k for k, v in lex.IRREGULAR_LEMMA.items() if v in lex.VERB]
    low = f"lower({col})" if mixed_case else col
    propn = ""
    if mixed_case:
        propn = f"""
      WHEN substr({col}, 1, 1) BETWEEN 'A' AND 'Z'
           AND NOT (({sent_initial}) AND {low} IN ({_inlist(lex.COMMON_WORDS)}))
        THEN 'PROPN'"""
    return f"""CASE
      WHEN regexp_matches({col}, '^[0-9]+$') THEN 'NUM'
      WHEN {low} IN ({_inlist(lex.DET)}) THEN 'DET'
      WHEN {low} IN ({_inlist(lex.AUX)}) THEN 'AUX'
      WHEN {low} IN ({_inlist(lex.ADP)}) THEN 'ADP'
      WHEN {low} IN ({_inlist(lex.PRON)}) THEN 'PRON'
      WHEN {low} IN ({_inlist(lex.CCONJ)}) THEN 'CCONJ'
      WHEN {low} IN ({_inlist(lex.SCONJ)}) THEN 'SCONJ'
      WHEN {low} IN ({_inlist(lex.ADV)}) THEN 'ADV'{propn}
      WHEN {low} IN ({_inlist(lex.VERB)}) OR {low} IN ({_inlist(irr_verb)}) THEN 'VERB'
      WHEN {low} IN ({_inlist(lex.ADJ)}) THEN 'ADJ'
      WHEN {low} LIKE '%ly' AND length({low}) > 4 THEN 'ADV'
      WHEN ({low} LIKE '%ing' OR {low} LIKE '%ed')
           AND {low} NOT IN ({_inlist(lex.ING_ED_NOUNS)})
           AND length({low}) > 4 THEN 'VERB'
      WHEN ({low} LIKE '%ous' OR {low} LIKE '%ful' OR {low} LIKE '%ive'
            OR {low} LIKE '%able' OR {low} LIKE '%ible')
           AND length({low}) > 5 THEN 'ADJ'
      WHEN {low} LIKE '%s' AND {low} NOT LIKE '%ss' AND {low} NOT LIKE '%us'
           AND {low} NOT LIKE '%is' AND {_verb_s_test(low)} THEN 'VERB'
      ELSE 'NOUN'
    END"""


def noun_lemma_case(col: str) -> str:
    """lemmatize(tok, 'NOUN') (nlp/pipeline.py:107-142): irregular dict
    first, then plural stripping."""
    return f"""coalesce(
      {_irregular_case(col)},
      CASE
        WHEN {col} LIKE '%ies' AND length({col}) > 4
          THEN substr({col}, 1, length({col}) - 3) || 'y'
        WHEN ({col} LIKE '%sses' OR {col} LIKE '%shes' OR {col} LIKE '%ches'
              OR {col} LIKE '%xes' OR {col} LIKE '%zes')
             AND length({col}) > 4
          THEN substr({col}, 1, length({col}) - 2)
        WHEN {col} LIKE '%s' AND {col} NOT LIKE '%ss' AND {col} NOT LIKE '%us'
             AND {col} NOT LIKE '%is' AND length({col}) > 3
          THEN substr({col}, 1, length({col}) - 1)
        ELSE {col}
      END)"""


def _verb_lemma_cols(col: str) -> str:
    """Column expressions for lemmatize(tok, VERB/AUX): the -ing/-ed stem
    plus _fix_stem (nlp/pipeline.py:122-158). Emitted as intermediate
    columns (_vstem, _verb_lemma) to keep expressions readable."""
    verbs = _inlist(lex.VERB)
    ing_ed = _inlist(lex.ING_ED_NOUNS)
    stem = f"""CASE
      WHEN {col} LIKE '%ing' AND length({col}) > 5 AND {col} NOT IN ({ing_ed})
        THEN substr({col}, 1, length({col}) - 3)
      WHEN {col} LIKE '%ed' AND length({col}) > 4 AND {col} NOT IN ({ing_ed})
        THEN substr({col}, 1, length({col}) - 2)
      END"""
    fix = f"""CASE
      WHEN length(_vstem) > 2
           AND substr(_vstem, length(_vstem), 1) = substr(_vstem, length(_vstem) - 1, 1)
           AND substr(_vstem, length(_vstem), 1) NOT IN ('a','e','i','o','u','l','s','z')
        THEN substr(_vstem, 1, length(_vstem) - 1)
      WHEN _vstem IN ({verbs}) THEN _vstem
      WHEN _vstem || 'e' IN ({verbs}) THEN _vstem || 'e'
      ELSE _vstem END"""
    rest = f"""CASE
      WHEN {col} LIKE '%ies' AND length({col}) > 4
        THEN substr({col}, 1, length({col}) - 3) || 'y'
      WHEN {col} LIKE '%es' AND length({col}) > 3
           AND substr({col}, length({col}) - 2, 1) IN ('s','x','z','o')
        THEN substr({col}, 1, length({col}) - 2)
      WHEN {col} LIKE '%s' AND {col} NOT LIKE '%ss' AND {col} NOT LIKE '%us'
           AND {col} NOT LIKE '%is' AND length({col}) > 3
        THEN substr({col}, 1, length({col}) - 1)
      ELSE {col} END"""
    return stem, fix, rest


def graph_ctes(table: str = "documents") -> str:
    """CTE chain documents → per-doc lemma-graph rows, the SQL twin of
    build_doc_graph (doclevel/build.py) over lowercase single-sentence
    text: token nodes (lem/dep), dependency arcs, noun-chunk overlay.

    Emits three terminal CTEs:
    * node_rows(doc_id, node_key, kind, surface, pos, label, length,
                count, sub_obj, first_tpos)
    * mention_rows(doc_id, token_id, node_key, surface, pos, kind, label,
                   length, sub_obj)
    * edge_rows(doc_id, src_key, dst_key, kind, rel, prob, count)
    """
    stem, fix, rest = _verb_lemma_cols("tok")
    chainable = "('DET', 'ADJ', 'NOUN', 'PROPN', 'CCONJ')"
    nominal = "('NOUN', 'PROPN', 'PRON', 'NUM')"
    return f"""tokr AS MATERIALIZED (
  SELECT doc_id, CAST(r.i AS INT) AS tpos, toks[CAST(r.i AS INT)] AS tok
  FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM {table}) d,
       unnest(range(1, len(toks) + 1)) AS r(i)
),
tagr AS MATERIALIZED (
  SELECT doc_id, tpos, tok,
    {tag_case('tok')} AS tag
  FROM tokr
),
lemr0 AS MATERIALIZED (
  SELECT doc_id, tpos, tok, tag,
    {_irregular_case('tok')} AS _irr,
    {stem} AS _vstem
  FROM tagr
),
lemr AS MATERIALIZED (
  SELECT doc_id, tpos, tok, tag,
    coalesce(_irr,
      CASE
        WHEN tag IN ('PROPN','PUNCT','NUM','DET','ADP','PRON','CCONJ','SCONJ') THEN tok
        WHEN tag IN ('VERB','AUX') THEN
          coalesce({fix}, {rest})
        ELSE {noun_lemma_case('tok')}
      END) AS lemma
  FROM lemr0
),
toknode AS MATERIALIZED (
  -- node identity per token: linked lemma key for NOUN/PROPN/VERB,
  -- doc-unique placeholder key otherwise (0-based doc-global index)
  SELECT doc_id, tpos, tok, tag, lemma,
         tag IN ('NOUN', 'PROPN', 'VERB') AS linked,
         CASE WHEN tag IN ('NOUN', 'PROPN', 'VERB')
              THEN lemma || '.' || tag
              ELSE CAST(tpos - 1 AS VARCHAR) || '.' || lemma || '.' || tag
         END AS node_key
  FROM lemr
),
rootp AS MATERIALIZED (
  SELECT doc_id,
         coalesce(
           min(CASE WHEN tag = 'VERB' THEN tpos END),
           min(CASE WHEN tag = 'AUX' THEN tpos END),
           min(CASE WHEN tag IN ('NOUN', 'PROPN') THEN tpos END),
           1) AS root_pos
  FROM toknode GROUP BY doc_id
),
depw AS MATERIALIZED (
  SELECT t.*, r.root_pos,
         max(CASE WHEN tag = 'ADP' THEN tpos END)
           OVER (PARTITION BY t.doc_id ORDER BY tpos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_adp,
         max(CASE WHEN tag IN ('NOUN','PROPN','VERB','AUX') THEN tpos END)
           OVER (PARTITION BY t.doc_id ORDER BY tpos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_stop,
         min(CASE WHEN tag IN ('NOUN','PROPN') THEN tpos END)
           OVER (PARTITION BY t.doc_id ORDER BY tpos
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_nom
  FROM toknode t JOIN rootp r ON t.doc_id = r.doc_id
),
depg AS MATERIALIZED (
  SELECT *,
         CASE WHEN tag IN {nominal} AND tpos <> root_pos
                   AND prev_adp IS NOT NULL
                   AND prev_adp > coalesce(prev_stop, 0)
              THEN prev_adp END AS gov
  FROM depw
),
attrp AS MATERIALIZED (
  -- the FIRST nominal after the root with no ADP governor gets 'attr'
  SELECT doc_id, min(tpos) AS attr_pos
  FROM depg
  WHERE tag IN {nominal} AND tpos <> root_pos AND gov IS NULL AND tpos > root_pos
  GROUP BY doc_id
),
deps AS MATERIALIZED (
  SELECT g.doc_id, g.tpos, g.tok, g.tag, g.lemma, g.linked, g.node_key,
         CASE
           WHEN g.tpos = g.root_pos THEN 'ROOT'
           WHEN g.tag = 'PUNCT' THEN 'punct'
           WHEN g.tag = 'DET' THEN 'det'
           WHEN g.tag = 'ADJ' THEN 'amod'
           WHEN g.tag = 'ADP' THEN 'prep'
           WHEN g.tag = 'ADV' THEN 'advmod'
           WHEN g.tag IN ('CCONJ', 'SCONJ') THEN 'cc'
           WHEN g.tag = 'AUX' THEN 'aux'
           WHEN g.tag IN {nominal} THEN
             CASE WHEN g.gov IS NOT NULL THEN 'pobj'
                  WHEN g.tpos < g.root_pos THEN 'nsubj'
                  WHEN g.tpos = a.attr_pos THEN 'attr'
                  ELSE 'conj' END
           ELSE 'dep'
         END AS dep,
         CASE
           WHEN g.tpos = g.root_pos THEN g.root_pos
           WHEN g.tag IN ('DET', 'ADJ') THEN coalesce(g.next_nom, g.root_pos)
           WHEN g.tag = 'ADP' THEN coalesce(g.prev_stop, g.root_pos)
           WHEN g.tag IN {nominal} AND g.gov IS NOT NULL THEN g.gov
           ELSE g.root_pos
         END AS head_pos
  FROM depg g LEFT JOIN attrp a ON g.doc_id = a.doc_id
),
-- noun-chunk overlay: islands of chainable tags; chunk spans the first
-- startable (non-CCONJ) token through the last nominal of the island
isl AS MATERIALIZED (
  SELECT doc_id, tpos, tok, tag, lemma,
         tpos - row_number() OVER (PARTITION BY doc_id ORDER BY tpos) AS grp
  FROM deps WHERE tag IN {chainable}
),
spans AS MATERIALIZED (
  SELECT doc_id, grp,
         min(CASE WHEN tag <> 'CCONJ' THEN tpos END) AS s,
         max(CASE WHEN tag IN ('NOUN', 'PROPN') THEN tpos END) AS ln
  FROM isl GROUP BY doc_id, grp
  HAVING min(CASE WHEN tag <> 'CCONJ' THEN tpos END) IS NOT NULL
     AND max(CASE WHEN tag IN ('NOUN', 'PROPN') THEN tpos END) IS NOT NULL
     AND max(CASE WHEN tag IN ('NOUN', 'PROPN') THEN tpos END)
         >= min(CASE WHEN tag <> 'CCONJ' THEN tpos END)
),
chunk_occ AS MATERIALIZED (
  SELECT sp.doc_id, sp.s, sp.ln,
         string_agg(t.lemma || '.' || t.tag, '.' ORDER BY t.tpos) AS chunk_key,
         string_agg(t.tok, ' ' ORDER BY t.tpos) AS surface,
         sp.ln - sp.s + 1 AS length
  FROM spans sp JOIN toknode t
    ON t.doc_id = sp.doc_id AND t.tpos BETWEEN sp.s AND sp.ln
  GROUP BY sp.doc_id, sp.s, sp.ln
),
chunk_new AS MATERIALIZED (
  -- novelty: keys already present as token nodes (pre-overlay) are skipped
  SELECT c.* FROM chunk_occ c
  WHERE NOT EXISTS (
    SELECT 1 FROM toknode t
    WHERE t.doc_id = c.doc_id AND t.node_key = c.chunk_key
  )
),
chunk_nodes AS MATERIALIZED (
  SELECT doc_id, chunk_key AS node_key, 'chu' AS kind,
         min_by(surface, s) AS surface, 'noun_chunk' AS pos,
         CAST(NULL AS VARCHAR) AS label,
         CAST(min(length) AS INT) AS length,
         count(*) AS count, FALSE AS sub_obj, min(s) AS first_tpos
  FROM chunk_new GROUP BY doc_id, chunk_key
),
tok_nodes AS MATERIALIZED (
  SELECT doc_id, node_key,
         CASE WHEN linked THEN 'lem' ELSE 'dep' END AS kind,
         min_by(tok, tpos) AS surface, min(tag) AS pos,
         CAST(NULL AS VARCHAR) AS label, 1 AS length,
         CASE WHEN bool_or(linked) THEN count(*) ELSE 0 END AS count,
         bool_or(dep IN ('nsubj', 'pobj')) AS sub_obj,
         min(tpos) AS first_tpos
  FROM deps GROUP BY doc_id, node_key, linked
),
node_rows AS MATERIALIZED (
  SELECT * FROM tok_nodes UNION ALL SELECT * FROM chunk_nodes
),
mention_rows AS MATERIALIZED (
  -- one row per node occurrence (placeholders have no mentions);
  -- surface/sub_obj are NODE-level within the doc
  SELECT d.doc_id, d.tpos - 1 AS token_id, d.node_key,
         n.surface, n.pos, n.kind, n.label, n.length, n.sub_obj
  FROM deps d JOIN tok_nodes n ON n.doc_id = d.doc_id AND n.node_key = d.node_key
  WHERE d.linked
  UNION ALL
  SELECT c.doc_id, c.s - 1 AS token_id, c.chunk_key AS node_key,
         n.surface, n.pos, n.kind, n.label, n.length, n.sub_obj
  FROM chunk_new c JOIN chunk_nodes n
    ON n.doc_id = c.doc_id AND n.node_key = c.chunk_key
),
dep_edges AS MATERIALIZED (
  SELECT s.doc_id, s.node_key AS src_key, h.node_key AS dst_key,
         'dep' AS kind, s.dep AS rel, 1.0 AS prob, count(*) AS count
  FROM deps s JOIN deps h ON h.doc_id = s.doc_id AND h.tpos = s.head_pos
  WHERE s.node_key <> h.node_key
  GROUP BY s.doc_id, s.node_key, h.node_key, s.dep
),
chu_edges AS MATERIALIZED (
  SELECT c.doc_id, c.chunk_key AS src_key, t.node_key AS dst_key,
         'chu' AS kind, 'noun_chunk' AS rel, 1.0 AS prob, count(*) AS count
  FROM chunk_new c JOIN deps t
    ON t.doc_id = c.doc_id AND t.tpos BETWEEN c.s AND c.ln
  WHERE c.chunk_key <> t.node_key
  GROUP BY c.doc_id, c.chunk_key, t.node_key
),
edge_rows AS MATERIALIZED (
  SELECT * FROM dep_edges UNION ALL SELECT * FROM chu_edges
)"""


def lemma_nodes_sql(table: str = "documents") -> str:
    """Oracle for corpus_nodes(extract_graphs(documents))."""
    return f"""WITH
{graph_ctes(table)}
SELECT node_key, min(kind) AS kind, min(surface) AS surface,
       min(pos) AS pos, min(label) AS label, min(length) AS length,
       CAST(sum(count) AS BIGINT) AS count,
       bool_or(sub_obj) AS sub_obj,
       count(DISTINCT doc_id) AS doc_freq
FROM node_rows
GROUP BY node_key
"""


def lemma_edges_sql(table: str = "documents") -> str:
    """Oracle for corpus_edges(extract_graphs(documents))."""
    return f"""WITH
{graph_ctes(table)}
SELECT src_key, dst_key, kind, rel,
       CAST(sum(count) AS BIGINT) AS count,
       max(prob) AS prob
FROM edge_rows
GROUP BY src_key, dst_key, kind, rel
"""


def extract_mentions_sql(table: str = "documents") -> str:
    """Oracle for mentions_table(extract_graphs(documents)) — single
    sentence per doc (para_id = sent_id = 0), dep/head_key not emitted by
    the extractor (NULL)."""
    return f"""WITH
{graph_ctes(table)}
SELECT doc_id, 0 AS para_id, 0 AS sent_id, token_id, node_key, surface,
       pos, kind, label, length, sub_obj,
       CAST(NULL AS VARCHAR) AS dep, CAST(NULL AS VARCHAR) AS head_key
FROM mention_rows
ORDER BY doc_id, sent_id, token_id
"""


def entities_ctes(table: str = "documents") -> str:
    """CTE chain documents → entities(entity_key, surface, mention_count,
    doc_freq) — the SQL twin of extract_entities(include_lemmas=True) +
    the ERPipeline entity aggregation (min-surface canonicalization)."""
    return f"""tok AS MATERIALIZED (
  SELECT doc_id, CAST(r.i AS INT) AS pos, toks[CAST(r.i AS INT)] AS tok
  FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM {table}) d,
       unnest(range(1, len(toks) + 1)) AS r(i)
),
tagged AS MATERIALIZED (
  SELECT doc_id, pos, tok,
    {tag_case('tok')} AS pos_tag
  FROM tok
),
ent_tok AS MATERIALIZED (
  SELECT doc_id, pos, tok,
    {noun_lemma_case('tok')} AS lemma
  FROM tagged WHERE pos_tag IN ('NOUN', 'PROPN')
),
doc_ents AS MATERIALIZED (
  -- per-doc node upsert: surface = FIRST occurrence of the key in the doc
  SELECT doc_id, lemma || '.' || 'NOUN' AS entity_key,
         min_by(tok, pos) AS surface, count(*) AS cnt
  FROM ent_tok GROUP BY doc_id, lemma
),
entities AS MATERIALIZED (
  SELECT entity_key, min(surface) AS surface,
         CAST(sum(cnt) AS BIGINT) AS mention_count,
         count(*) AS doc_freq
  FROM doc_ents GROUP BY entity_key
)"""


def _minhash_channel(num_hashes: int = 16, bands: int = 4, shingle: int = 3) -> str:
    """Band-key channel over ``norm`` — md5 hash family, same layout as
    blocking.minhash_band_keys / band_keys_from_signatures."""
    consts = minhash_xor_constants(num_hashes)
    rows = num_hashes // bands
    mins = ",\n    ".join(f"min(xor(_hb, {c})) AS h{s}" for s, c in enumerate(consts))
    band_cases = "\n      ".join(
        "WHEN {b} THEN concat_ws('_', {cols})".format(
            b=b, cols=", ".join(f"h{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    band_ids = ", ".join(f"({b})" for b in range(bands))
    return f"""esh AS MATERIALIZED (
  SELECT entity_key, substr(norm, CAST(i.i AS INT), {shingle}) AS _sh
  FROM keyed, unnest(range(1, greatest(length(norm) - {shingle - 1}, 1) + 1)) AS i(i)
),
ehb AS (SELECT entity_key, CAST('0x' || substr(md5(_sh), 1, 15) AS BIGINT) AS _hb FROM esh),
esig AS MATERIALIZED (
  SELECT entity_key,
    {mins}
  FROM ehb GROUP BY entity_key
),
ebands AS MATERIALIZED (
  SELECT entity_key, b.band_id,
    CASE b.band_id
      {band_cases}
    END AS band_key
  FROM esig, (VALUES {band_ids}) AS b(band_id)
)"""


def _name_parts_expr(col: str) -> str:
    """_name_parts (scoring.py:86-91): non-alpha → space, split, drop
    empties. Returns a SQL list expression."""
    return (
        f"list_filter(string_split_regex("
        f"regexp_replace(lower({col}), '[^a-z]', ' ', 'g'), ' +'), x -> x <> '')"
    )


def pagerank_ctes(
    *,
    edges: str,
    max_iter: int,
    alpha: float = 0.85,
    tol: float = 1.0e-6,
    prefix: str = "pr",
) -> tuple[str, str]:
    """Unrolled weighted-PageRank CTE chain over ``edges(src, dst, w)``,
    mirroring operators/pagerank.py including its ADAPTIVE early stop:
    every iteration's L1 delta is computed, and the final rank table is
    the first iteration whose delta clears n*tol (else the last). Returns
    (ctes_sql, final_cte_name) where the final CTE is (node, rank)."""
    p = prefix
    # AS MATERIALIZED everywhere: DuckDB inlines plain CTEs per reference,
    # which makes an unrolled iteration chain EXPONENTIAL in max_iter
    parts = [f"""{p}_e AS MATERIALIZED (
  SELECT src, dst, CAST(sum(w) AS DOUBLE) AS w FROM {edges} GROUP BY src, dst
),
{p}_nodes AS MATERIALIZED (
  -- DISTINCT over UNION ALL, not bare UNION: inside a WITH RECURSIVE
  -- clause DuckDB gives UNION recursive-iteration semantics and skips
  -- the dedup for non-self-referencing CTEs
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM {p}_e UNION ALL SELECT dst FROM {p}_e
  )
),
{p}_n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM {p}_nodes),
{p}_outw AS MATERIALIZED (SELECT src, sum(w) AS out_w FROM {p}_e GROUP BY src),
{p}_trans AS MATERIALIZED (
  SELECT e.src, e.dst, e.w / o.out_w AS prob
  FROM {p}_e e JOIN {p}_outw o ON e.src = o.src
),
{p}_r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM {p}_n) AS rank FROM {p}_nodes)"""]
    for k in range(1, max_iter + 1):
        prev = f"{p}_r{k - 1}"
        parts.append(f"""{p}_d{k} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0.0) AS dm
  FROM {prev} r LEFT JOIN {p}_outw o ON r.node = o.src
  WHERE o.src IS NULL
),
{p}_c{k} AS MATERIALIZED (
  SELECT t.dst, sum(r.rank * t.prob) AS contrib
  FROM {prev} r JOIN {p}_trans t ON r.node = t.src
  GROUP BY t.dst
),
{p}_r{k} AS MATERIALIZED (
  SELECT n.node,
         (1.0 - {alpha}) / (SELECT n FROM {p}_n)
         + {alpha} * (coalesce(c.contrib, 0.0)
                      + (SELECT dm FROM {p}_d{k}) / (SELECT n FROM {p}_n)) AS rank
  FROM {p}_nodes n LEFT JOIN {p}_c{k} c ON n.node = c.dst
),
{p}_delta{k} AS MATERIALIZED (
  SELECT sum(abs(a.rank - b.rank)) AS v
  FROM {p}_r{k} a JOIN {prev} b ON a.node = b.node
)""")
    stop_cases = "\n    ".join(
        f"WHEN (SELECT v FROM {p}_delta{k}) < (SELECT n FROM {p}_n) * {tol} THEN {k}"
        for k in range(1, max_iter + 1)
    )
    tagged_union = "\n  UNION ALL ".join(
        f"SELECT {k} AS k, node, rank FROM {p}_r{k}" for k in range(1, max_iter + 1)
    )
    parts.append(f"""{p}_stop AS MATERIALIZED (
  SELECT CASE
    {stop_cases}
    ELSE {max_iter} END AS k
),
{p}_all AS (
  {tagged_union}
),
{p}_final AS (
  SELECT node, rank FROM {p}_all WHERE k = (SELECT k FROM {p}_stop)
)""")
    return ",\n".join(parts), f"{p}_final"


def docpr_ctes(*, max_iter: int = 100, alpha: float = 0.85, tol: float = 1.0e-6) -> str:
    """Per-document weighted PageRank (doclevel/rank.py:26-57) unrolled,
    grouped by doc_id — every document's power iteration runs in the same
    relational tables, with the numpy version's per-doc adaptive stop
    reproduced as a per-doc stop-iteration selector.

    Requires ``dpn(doc_id, node_id, n)`` (n = node count of the doc) and
    ``dpe(doc_id, src_id, dst_id, w)`` CTEs; emits ``dp_final(doc_id,
    node_id, rank)``."""
    parts = [f"""dp_outw AS MATERIALIZED (
  SELECT doc_id, src_id, sum(w) AS out_w FROM dpe GROUP BY doc_id, src_id
),
dp_r0 AS MATERIALIZED (SELECT doc_id, node_id, 1.0 / n AS rank, n FROM dpn)"""]
    for k in range(1, max_iter + 1):
        prev = f"dp_r{k - 1}"
        parts.append(f"""dp_d{k} AS MATERIALIZED (
  SELECT r.doc_id, coalesce(sum(r.rank), 0.0) AS dm
  FROM {prev} r LEFT JOIN dp_outw o
    ON r.doc_id = o.doc_id AND r.node_id = o.src_id
  WHERE o.src_id IS NULL
  GROUP BY r.doc_id
),
dp_c{k} AS MATERIALIZED (
  SELECT e.doc_id, e.dst_id,
         sum({alpha} * r.rank * e.w / o.out_w) AS contrib
  FROM {prev} r
  JOIN dpe e ON e.doc_id = r.doc_id AND e.src_id = r.node_id
  JOIN dp_outw o ON o.doc_id = e.doc_id AND o.src_id = e.src_id
  GROUP BY e.doc_id, e.dst_id
),
dp_r{k} AS MATERIALIZED (
  SELECT n.doc_id, n.node_id,
         (1.0 - {alpha}) * (1.0 / n.n)
         + {alpha} * coalesce(d.dm, 0.0) * (1.0 / n.n)
         + coalesce(c.contrib, 0.0) AS rank,
         n.n
  FROM dpn n
  LEFT JOIN dp_d{k} d ON d.doc_id = n.doc_id
  LEFT JOIN dp_c{k} c ON c.doc_id = n.doc_id AND c.dst_id = n.node_id
),
dp_delta{k} AS MATERIALIZED (
  SELECT a.doc_id, sum(abs(a.rank - b.rank)) AS v
  FROM dp_r{k} a JOIN {prev} b
    ON a.doc_id = b.doc_id AND a.node_id = b.node_id
  GROUP BY a.doc_id
)""")
    delta_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {k} AS k, v FROM dp_delta{k}" for k in range(1, max_iter + 1)
    )
    rank_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, node_id, rank, {k} AS k FROM dp_r{k}" for k in range(1, max_iter + 1)
    )
    parts.append(f"""dp_deltas AS MATERIALIZED (
  {delta_union}
),
dp_stop AS MATERIALIZED (
  SELECT docs.doc_id,
         coalesce(min(CASE WHEN d.v < docs.n * {tol} THEN d.k END), {max_iter}) AS k
  FROM (SELECT doc_id, min(n) AS n FROM dpn GROUP BY doc_id) docs
  LEFT JOIN dp_deltas d ON d.doc_id = docs.doc_id
  GROUP BY docs.doc_id
),
dp_all AS MATERIALIZED (
  {rank_union}
),
dp_final AS MATERIALIZED (
  SELECT a.doc_id, a.node_id, a.rank
  FROM dp_all a JOIN dp_stop s ON s.doc_id = a.doc_id AND s.k = a.k
)""")
    return ",\n".join(parts)


def ranked_phrases_sql(table: str = "documents", *, top: int = 5) -> str:
    """Oracle for phrases_table(extract_graphs(docs)) filtered to the top
    ``top`` per doc. The corpus has no NER entities, so restack_ranks
    (doclevel/rank.py:96-136) early-returns the raw per-doc PageRank —
    phrases are all nodes ordered by (rank DESC, insertion order)."""
    return f"""WITH
{graph_ctes(table)},
dnodes AS MATERIALIZED (
  -- node_id = insertion order: token nodes by first occurrence, then
  -- chunk nodes by first occurrence (build_doc_graph appends chunks
  -- after all sentence tokens)
  SELECT doc_id, node_key, kind, surface, pos, label, count,
         CAST(row_number() OVER (
           PARTITION BY doc_id
           ORDER BY CASE WHEN kind = 'chu' THEN 1 ELSE 0 END, first_tpos
         ) - 1 AS INT) AS node_id
  FROM node_rows
),
dpn AS MATERIALIZED (
  SELECT doc_id, node_id,
         CAST(count(*) OVER (PARTITION BY doc_id) AS DOUBLE) AS n
  FROM dnodes
),
dpe AS MATERIALIZED (
  SELECT e.doc_id, s.node_id AS src_id, d.node_id AS dst_id,
         CAST(e.count AS DOUBLE) AS w
  FROM edge_rows e
  JOIN dnodes s ON s.doc_id = e.doc_id AND s.node_key = e.src_key
  JOIN dnodes d ON d.doc_id = e.doc_id AND d.node_key = e.dst_key
),
{docpr_ctes()},
phrases AS MATERIALIZED (
  SELECT n.doc_id, n.node_id, n.surface AS text, n.pos, n.label, n.count,
         p.rank AS weight,
         -- round-9 sort key: structurally symmetric nodes have EXACTLY
         -- equal ranks in numpy (stable sort → insertion order), but
         -- relational sum order perturbs the last ulp here — 1e-9
         -- granularity restores the tie without masking genuine gaps
         CAST(row_number() OVER (
           PARTITION BY n.doc_id ORDER BY round(p.rank, 9) DESC, n.node_id
         ) - 1 AS INT) AS rank_pos
  FROM dnodes n
  JOIN dp_final p ON p.doc_id = n.doc_id AND p.node_id = n.node_id
  WHERE p.rank > 0
)
SELECT doc_id, rank_pos, node_id, text, pos, label,
       CAST(count AS INT) AS count,
       round(weight, 6) AS weight
FROM phrases WHERE rank_pos < {top}
"""


def _score_case_expr() -> str:
    """The pairwise name-decision score over nm's (fa, la, fb, lb) — the
    SQL twin of the Spark scoring kernel (scoring.py _name_match_batch):
    exact-first = 1.0, abbreviated-initial = 0.95, else first-name JW;
    0.35/0.65 first/last blend; an empty last name scores 0.0 (kernel
    lines 297-298 zero those rows rather than dropping them)."""
    return """CASE WHEN la = '' OR lb = '' THEN 0.0 ELSE
      0.35 * (CASE
                WHEN fa = fb AND fa <> '' THEN 1.0
                WHEN fa <> '' AND fb <> ''
                     AND (length(fa) = 1 OR length(fb) = 1)
                     AND substr(fa, 1, 1) = substr(fb, 1, 1) THEN 0.95
                ELSE jaro_winkler_similarity(fa, fb)
              END)
      + 0.65 * jaro_winkler_similarity(la, lb) END"""


def blocking_ctes(entities: str = "entities") -> str:
    """CTE chain ``{entities}(entity_key, surface, ...)`` → ``cands``
    (left_id, right_id) — the SQL twin of er_pipeline.blocking_pairs:
    normalized-name block-key channel UNION the md5 MinHash band
    channel, distinct unordered pairs within shared keys."""
    return f"""keyed AS MATERIALIZED (
  SELECT entity_key, surface,
         lower(regexp_replace(surface, '[^A-Za-z ]', '', 'g')) AS norm
  FROM {entities}
),
kparts AS MATERIALIZED (
  SELECT entity_key, surface, norm,
         string_split_regex(trim(norm), ' +') AS toks
  FROM keyed
),
chan_key AS MATERIALIZED (
  SELECT entity_key,
         concat_ws('|', toks[len(toks)], substr(toks[1], 1, 1)) AS bkey
  FROM kparts
),
{_minhash_channel()},
chan_mh AS MATERIALIZED (
  SELECT entity_key, concat_ws('|', 'mh', band_id, band_key) AS bkey FROM ebands
),
blocked AS MATERIALIZED (
  SELECT * FROM chan_key UNION ALL SELECT * FROM chan_mh
),
cands AS MATERIALIZED (
  SELECT DISTINCT a.entity_key AS left_id, b.entity_key AS right_id
  FROM blocked a JOIN blocked b ON a.bkey = b.bkey AND a.entity_key < b.entity_key
)"""


def pair_scores_ctes(entities: str = "entities") -> str:
    """``cands`` → ``pair_scores(left_id, right_id, score)``: every
    candidate pair with its decision score — the SQL twin of
    scoring.score_pairs over the blocking output."""
    return f"""scored AS MATERIALIZED (
  SELECT c.left_id, c.right_id, lp.p AS lp, rp.p AS rp
  FROM cands c
  JOIN (SELECT entity_key, {_name_parts_expr('surface')} AS p FROM {entities}) lp
    ON lp.entity_key = c.left_id
  JOIN (SELECT entity_key, {_name_parts_expr('surface')} AS p FROM {entities}) rp
    ON rp.entity_key = c.right_id
),
nm AS MATERIALIZED (
  SELECT left_id, right_id,
         coalesce(lp[1], '') AS fa, coalesce(lp[len(lp)], '') AS la,
         coalesce(rp[1], '') AS fb, coalesce(rp[len(rp)], '') AS lb
  FROM scored
),
pair_scores AS MATERIALIZED (
  SELECT left_id, right_id, {_score_case_expr()} AS score FROM nm
)"""


def clustering_ctes(entities: str = "entities", *, min_similarity: float = 0.9) -> str:
    """``{entities}`` → ``assignments(entity_key, cluster_id, surface,
    mention_count, doc_freq)``: blocking → pairwise scoring → threshold
    matches → recursive-CTE transitive closure with min-member-key
    cluster labels. Must be placed under WITH RECURSIVE (the reach CTE).
    The source CTE needs (entity_key, surface, mention_count, doc_freq)."""
    return f"""{blocking_ctes(entities)},
{pair_scores_ctes(entities)},
matches AS MATERIALIZED (
  SELECT left_id, right_id FROM pair_scores WHERE score >= {min_similarity}
),
edgesu AS MATERIALIZED (
  SELECT left_id AS a, right_id AS b FROM matches
  UNION SELECT right_id, left_id FROM matches
),
reach(node, r) AS (
  SELECT entity_key, entity_key FROM {entities}
  UNION
  SELECT e.b, x.r FROM reach x JOIN edgesu e ON e.a = x.node
),
comp AS MATERIALIZED (
  SELECT node AS entity_key, min(r) AS cluster_id FROM reach GROUP BY node
),
assignments AS MATERIALIZED (
  SELECT e.entity_key, c.cluster_id, e.surface, e.mention_count, e.doc_freq
  FROM {entities} e JOIN comp c ON e.entity_key = c.entity_key
)"""


def assignment_ctes(table: str = "documents", *, min_similarity: float = 0.9) -> str:
    """CTE chain through ``assignments(entity_key, cluster_id, surface,
    mention_count, doc_freq)`` — shared by the cluster-summary and
    ranked-members oracles. Must be placed
    under WITH RECURSIVE (the reach CTE)."""
    return f"""{entities_ctes(table)},
{clustering_ctes('entities', min_similarity=min_similarity)}"""


def er_clusters_sql(table: str = "documents", *, min_similarity: float = 0.9) -> str:
    """The complete flagship oracle: documents → cluster summary."""
    return f"""WITH RECURSIVE
{assignment_ctes(table, min_similarity=min_similarity)}
SELECT cluster_id,
       count(*) AS n_forms,
       CAST(sum(mention_count) AS BIGINT) AS n_mentions,
       array_to_string(list_sort(list(DISTINCT surface)), '|') AS members,
       max(mention_count) AS max_mentions
FROM assignments
GROUP BY cluster_id
ORDER BY n_mentions DESC, cluster_id
"""


def er_ranked_clusters_sql(table: str = "documents", *, max_iter: int = 20) -> str:
    """Oracle for er_ranked_clusters: assignments (flagship chain) +
    corpus-level PageRank over the aggregated lemma-graph edges + a
    per-cluster rank window."""
    pr, final = pagerank_ctes(edges="prin", max_iter=max_iter, prefix="pr")
    return f"""WITH RECURSIVE
{assignment_ctes(table)},
{graph_ctes(table)},
corpus_e AS MATERIALIZED (
  SELECT src_key, dst_key, CAST(sum(count) AS BIGINT) AS weight
  FROM edge_rows GROUP BY src_key, dst_key, kind, rel
),
prin AS (SELECT src_key AS src, dst_key AS dst, weight AS w FROM corpus_e),
{pr},
full_assign AS MATERIALIZED (
  SELECT a.entity_key, a.cluster_id, a.surface, a.mention_count, p.rank
  FROM assignments a LEFT JOIN {final} p ON p.node = a.entity_key
)
SELECT cluster_id,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY rank DESC NULLS LAST, entity_key) AS rank_in_cluster,
       entity_key, surface,
       round(coalesce(rank, 0.0), 6) AS rank,
       mention_count
FROM full_assign
ORDER BY cluster_id, rank_in_cluster
"""


def corpus_pagerank_sql(
    table: str = "documents", *, max_docs: int = 50, max_iter: int = 15, top: int = 50
) -> str:
    """Oracle for corpus_pagerank: lemma-graph edges of doc_id < max_docs,
    weighted PageRank, top ranks (same (rank desc, node) total order)."""
    pr, final = pagerank_ctes(edges="prin", max_iter=max_iter, prefix="pr")
    return f"""WITH
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
corpus_e AS MATERIALIZED (
  SELECT src_key, dst_key, CAST(sum(count) AS BIGINT) AS weight
  FROM edge_rows GROUP BY src_key, dst_key, kind, rel
),
prin AS (SELECT src_key AS src, dst_key AS dst, weight AS w FROM corpus_e),
{pr}
SELECT node, round(rank, 6) AS rank
FROM {final}
ORDER BY round(rank, 9) DESC, node
LIMIT {top}
"""


def _label_prop_chain(max_iter: int) -> str:
    """The unrolled synchronous label-propagation CTE chain over ``und``
    (ends in ``lab{max_iter}``) — SHARED by label_propagation_sql and
    modularity_sql so engine and oracle label semantics cannot drift."""
    steps = ["""lab0 AS MATERIALIZED (
  SELECT DISTINCT a AS node, a AS label FROM und
)"""]
    for k in range(1, max_iter + 1):
        prev = f"lab{k - 1}"
        steps.append(f"""lab{k} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT u.a AS node, l.label, count(*) AS n,
           row_number() OVER (PARTITION BY u.a
                              ORDER BY count(*) DESC, l.label ASC) AS rn
    FROM und u JOIN {prev} l ON u.b = l.node
    GROUP BY u.a, l.label
  ) WHERE rn = 1
)""")
    return ",\n".join(steps)


def label_propagation_sql(
    table: str = "documents", *, max_docs: int = 50, max_iter: int = 5
) -> str:
    """Oracle for label_propagation over the lemma graph of
    doc_id < max_docs: synchronous rounds unrolled, each node adopting
    the most frequent neighbor label with the (count DESC, label ASC)
    deterministic tie-break — the same window formulation as the Spark
    operator."""
    return f"""WITH
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
und AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src_key AS a, dst_key AS b FROM edge_rows
    UNION ALL SELECT dst_key, src_key FROM edge_rows
  )
),
{_label_prop_chain(max_iter)}
SELECT node, label FROM lab{max_iter} ORDER BY node
"""


def modularity_sql(
    table: str = "documents", *, max_docs: int = 50, max_iter: int = 5
) -> str:
    """Oracle for graphops.modularity_by_community over the label-prop
    communities of the lemma graph: the identical unrolled label chain
    (shared CTE generator), then per-label degree sums and intra-edge
    counts over the distinct a<b edge set, q_part = m_intra/m -
    (d_sum/(2m))^2 rounded to 6."""
    return f"""WITH
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
und AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src_key AS a, dst_key AS b FROM edge_rows
    UNION ALL SELECT dst_key, src_key FROM edge_rows
  )
),
{_label_prop_chain(max_iter)},
labs AS (SELECT node, label FROM lab{max_iter}),
e AS MATERIALIZED (
  SELECT DISTINCT least(src_key, dst_key) AS a,
                  greatest(src_key, dst_key) AS b
  FROM edge_rows WHERE src_key <> dst_key
),
mm AS (SELECT count(*) AS m FROM e),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
),
intra AS (
  SELECT la.label, count(*) AS m_intra
  FROM e JOIN labs la ON la.node = e.a
         JOIN labs lb ON lb.node = e.b
  WHERE la.label = lb.label
  GROUP BY la.label
),
per_label AS (
  SELECT l.label,
         count(*) AS n_nodes,
         sum(d.deg) AS d_sum
  FROM labs l JOIN deg d ON d.node = l.node
  GROUP BY l.label
)
SELECT p.label,
       CAST(p.n_nodes AS BIGINT) AS n_nodes,
       CAST(coalesce(i.m_intra, 0) AS BIGINT) AS m_intra,
       CAST(p.d_sum AS BIGINT) AS d_sum,
       round(coalesce(i.m_intra, 0) / mm.m
             - (p.d_sum / (2.0 * mm.m)) ^ 2, 6) AS q_part
FROM per_label p LEFT JOIN intra i ON i.label = p.label, mm
ORDER BY p.label
"""


def triangle_counts_sql(
    table: str = "documents", *, max_docs: int = 50
) -> str:
    """Oracle for graphops.triangle_counts over the lemma graph of
    doc_id < max_docs. The oracle enumerates triangles with the naive
    ordered triple join (exact and cheap at oracle scale); the Spark
    operator's degree-ordered orientation must produce the identical
    per-node tally."""
    return f"""WITH
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
e AS MATERIALIZED (
  SELECT DISTINCT least(src_key, dst_key) AS a,
                  greatest(src_key, dst_key) AS b
  FROM edge_rows WHERE src_key <> dst_key
),
tri AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT node, count(*) AS triangles FROM (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
GROUP BY node ORDER BY node
"""


def link_prediction_sql(
    table: str = "documents", *, max_docs: int = 50,
    min_common: int = 2, max_degree: int | None = None,
) -> str:
    """Oracle for graphops.link_prediction_jaccard over the lemma graph
    of doc_id < max_docs — wedge join through shared neighbors, hub
    centers above max_degree cut, existing edges anti-joined."""
    center_filter = (
        f"JOIN deg dc ON dc.node = u.nbr AND dc.deg <= {max_degree}"
        if max_degree is not None else ""
    )
    return f"""WITH
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
e AS MATERIALIZED (
  SELECT DISTINCT least(src_key, dst_key) AS a,
                  greatest(src_key, dst_key) AS b
  FROM edge_rows WHERE src_key <> dst_key
),
und AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e
  UNION ALL SELECT b, a FROM e
),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM und GROUP BY node
),
centers AS (
  SELECT u.nbr AS c, u.node FROM und u {center_filter}
),
common AS (
  SELECT p1.node AS x, p2.node AS y, count(*) AS common
  FROM centers p1 JOIN centers p2 ON p1.c = p2.c AND p1.node < p2.node
  GROUP BY p1.node, p2.node
  HAVING count(*) >= {min_common}
),
cand AS (
  SELECT * FROM common cm
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = cm.x AND e.b = cm.y)
)
SELECT cand.x AS src, cand.y AS dst, cand.common,
       round(cand.common * 1.0 / (dx.deg + dy.deg - cand.common), 6)
         AS jaccard
FROM cand
JOIN deg dx ON dx.node = cand.x
JOIN deg dy ON dy.node = cand.y
ORDER BY src, dst
"""


def kcore_sql(
    table: str = "documents", *, max_docs: int = 50,
    k: int = 3, rounds: int = 8,
) -> str:
    """Oracle for graphops.kcore over the lemma graph of doc_id <
    max_docs: the peel unrolled ``rounds`` times. The fixed point is
    stable (peeling a converged core is a no-op), so any unroll depth
    >= the true peel depth matches the Spark operator's converged
    result; the organic corpus converges in 2 rounds, 8 gives margin
    (tests pin a deeper synthetic peel)."""
    steps = []
    for i in range(1, rounds + 1):
        prev = f"alive{i - 1}"
        steps.append(f"""alive{i} AS MATERIALIZED (
  SELECT u.node, count(*) AS core_deg
  FROM und u
  JOIN {prev} x ON u.node = x.node
  JOIN {prev} y ON u.nbr = y.node
  GROUP BY u.node HAVING count(*) >= {k}
)""")
    chain = ",\n".join(steps)
    return f"""WITH
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
e AS MATERIALIZED (
  SELECT DISTINCT least(src_key, dst_key) AS a,
                  greatest(src_key, dst_key) AS b
  FROM edge_rows WHERE src_key <> dst_key
),
und AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e
  UNION ALL SELECT b, a FROM e
),
alive0 AS MATERIALIZED (SELECT DISTINCT node, 0 AS core_deg FROM und),
{chain}
SELECT node, core_deg FROM alive{rounds} ORDER BY node
"""


def ppr_ctes(
    *,
    edges: str,
    seeds: str,
    max_iter: int,
    alpha: float = 0.85,
    tol: float = 1.0e-6,
    prefix: str = "pp",
) -> tuple[str, str]:
    """Unrolled personalized-PageRank CTE chain over ``edges(src, dst,
    w)`` with restart distribution uniform over ``seeds(node)`` —
    mirrors operators/pagerank.py::personalized_pagerank including the
    adaptive early stop (r0 = s; dangling mass restarts at seeds).
    Returns (ctes_sql, final_cte_name)."""
    p = prefix
    parts = [f"""{p}_e AS MATERIALIZED (
  SELECT src, dst, CAST(sum(w) AS DOUBLE) AS w FROM {edges} GROUP BY src, dst
),
{p}_nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM {p}_e UNION ALL SELECT dst FROM {p}_e
  )
),
{p}_n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM {p}_nodes),
{p}_seeds AS MATERIALIZED (
  SELECT DISTINCT s.node FROM {seeds} s JOIN {p}_nodes nd ON s.node = nd.node
),
{p}_ns AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS ns FROM {p}_seeds),
{p}_outw AS MATERIALIZED (SELECT src, sum(w) AS out_w FROM {p}_e GROUP BY src),
{p}_trans AS MATERIALIZED (
  SELECT e.src, e.dst, e.w / o.out_w AS prob
  FROM {p}_e e JOIN {p}_outw o ON e.src = o.src
),
{p}_svec AS MATERIALIZED (
  SELECT nd.node,
         CASE WHEN s.node IS NULL THEN 0.0
              ELSE 1.0 / (SELECT ns FROM {p}_ns) END AS s
  FROM {p}_nodes nd LEFT JOIN {p}_seeds s ON nd.node = s.node
),
{p}_r0 AS MATERIALIZED (SELECT node, s AS rank FROM {p}_svec)"""]
    for k in range(1, max_iter + 1):
        prev = f"{p}_r{k - 1}"
        parts.append(f"""{p}_d{k} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0.0) AS dm
  FROM {prev} r LEFT JOIN {p}_outw o ON r.node = o.src
  WHERE o.src IS NULL
),
{p}_c{k} AS MATERIALIZED (
  SELECT t.dst, sum(r.rank * t.prob) AS contrib
  FROM {prev} r JOIN {p}_trans t ON r.node = t.src
  GROUP BY t.dst
),
{p}_r{k} AS MATERIALIZED (
  SELECT v.node,
         (1.0 - {alpha}) * v.s
         + {alpha} * (coalesce(c.contrib, 0.0)
                      + (SELECT dm FROM {p}_d{k}) * v.s) AS rank
  FROM {p}_svec v LEFT JOIN {p}_c{k} c ON v.node = c.dst
),
{p}_delta{k} AS MATERIALIZED (
  SELECT sum(abs(a.rank - b.rank)) AS v
  FROM {p}_r{k} a JOIN {prev} b ON a.node = b.node
)""")
    stop_cases = "\n    ".join(
        f"WHEN (SELECT v FROM {p}_delta{k}) < (SELECT n FROM {p}_n) * {tol} THEN {k}"
        for k in range(1, max_iter + 1)
    )
    tagged_union = "\n  UNION ALL ".join(
        f"SELECT {k} AS k, node, rank FROM {p}_r{k}" for k in range(1, max_iter + 1)
    )
    parts.append(f"""{p}_stop AS MATERIALIZED (
  SELECT CASE
    {stop_cases}
    ELSE {max_iter} END AS k
),
{p}_all AS (
  {tagged_union}
),
{p}_final AS (
  SELECT node, rank FROM {p}_all WHERE k = (SELECT k FROM {p}_stop)
)""")
    return ",\n".join(parts), f"{p}_final"


def personalized_pagerank_sql(
    table: str = "documents", *, max_docs: int = 50, max_iter: int = 15,
    n_seeds: int = 5, top: int = 50,
) -> str:
    """Oracle for graph_ppr: lemma-graph edges of doc_id < max_docs,
    seeds = the ``n_seeds`` heaviest nodes by total in+out edge weight
    (node ASC tie-break — deterministic in both engines), personalized
    PageRank, top ranks."""
    pr, final = ppr_ctes(
        edges="pprin", seeds="pprseeds", max_iter=max_iter, prefix="pp"
    )
    return f"""WITH
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
corpus_e AS MATERIALIZED (
  SELECT src_key, dst_key, CAST(sum(count) AS BIGINT) AS weight
  FROM edge_rows GROUP BY src_key, dst_key, kind, rel
),
pprin AS (SELECT src_key AS src, dst_key AS dst, weight AS w FROM corpus_e),
pprseeds AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, sum(w) AS tw FROM (
      SELECT src AS node, CAST(w AS DOUBLE) AS w FROM pprin
      UNION ALL SELECT dst, CAST(w AS DOUBLE) FROM pprin
    ) GROUP BY node
  ) ORDER BY tw DESC, node LIMIT {n_seeds}
),
{pr}
SELECT node, round(rank, 6) AS rank
FROM {final}
WHERE rank > 0
ORDER BY round(rank, 9) DESC, node
LIMIT {top}
"""


def harmonic_centrality_sql(
    table: str = "documents", *, max_docs: int = 50, max_iter: int = BALL_MAX_ITER
) -> str:
    """Oracle for graphops.harmonic_centrality over the lemma graph of
    doc_id < max_docs: exact all-pairs BFS distances via a bounded
    recursive CTE, then per-distance counts summed as cnt/d — the SAME
    term sequence the HyperBall loop accumulates ((est_t − est_{t−1})/t
    with exact sparse-mode estimates), so the doubles agree to the
    last ulp, not just after rounding. max_iter bounds the recursive
    expansion (cycles re-emit (src, node) at every same-parity depth,
    so the cap is the cost knob). The cap is the ENGINE'S
    BALL_MAX_ITER — imported, not copied — so a corpus whose diameter
    outgrows any hand-picked number can never desynchronize the two
    sides; min-distances already at their fixpoint are unchanged by a
    deeper cap, and a too-small cap cannot silently pass (n_reachable
    would drop below the engine's and the hash would go red)."""
    return f"""WITH RECURSIVE
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
und AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src_key AS a, dst_key AS b FROM edge_rows
    UNION ALL SELECT dst_key, src_key FROM edge_rows
  )
),
reach(src, node, d) AS (
  SELECT a, a, 0 FROM (SELECT DISTINCT a FROM und)
  UNION
  SELECT r.src, u.b, r.d + 1
  FROM reach r JOIN und u ON u.a = r.node
  WHERE r.d < {max_iter}
),
mind AS MATERIALIZED (
  SELECT src, node, min(d) AS d FROM reach GROUP BY src, node
),
perd AS (
  SELECT src, d, CAST(count(*) AS DOUBLE) AS cnt
  FROM mind WHERE d > 0 GROUP BY src, d
)
SELECT m.src AS node,
       round(coalesce(p.h, 0.0), 6) AS harmonic,
       m.n AS n_reachable
FROM (SELECT src, CAST(count(*) AS BIGINT) AS n FROM mind GROUP BY src) m
LEFT JOIN (SELECT src, sum(cnt / d) AS h FROM perd GROUP BY src) p
  ON p.src = m.src
ORDER BY node
"""


def neighborhood_function_sql(
    table: str = "documents", *, max_docs: int = 50, max_iter: int = BALL_MAX_ITER
) -> str:
    """Oracle for graphops.neighborhood_function: exact all-pairs BFS
    (the harmonic-centrality reach CTE), pairs cumulated per distance;
    frac rounds to 6 like the engine."""
    return f"""WITH RECURSIVE
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
und AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src_key AS a, dst_key AS b FROM edge_rows
    UNION ALL SELECT dst_key, src_key FROM edge_rows
  )
),
reach(src, node, d) AS (
  SELECT a, a, 0 FROM (SELECT DISTINCT a FROM und)
  UNION
  SELECT r.src, u.b, r.d + 1
  FROM reach r JOIN und u ON u.a = r.node
  WHERE r.d < {max_iter}
),
mind AS MATERIALIZED (
  SELECT src, node, min(d) AS d FROM reach GROUP BY src, node
),
perd AS (
  SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM mind WHERE d > 0 GROUP BY d
),
cum AS (
  SELECT d AS t, sum(cnt) OVER (ORDER BY d) AS pairs FROM perd
),
tot AS (SELECT max(pairs) AS total FROM cum)
SELECT CAST(t AS INT) AS t,
       CAST(pairs AS BIGINT) AS reachable_pairs,
       round(pairs / total, 6) AS frac,
       pairs >= 0.9 * total AS reached_90
FROM cum, tot
ORDER BY t
"""


def clustering_coefficient_sql(
    table: str = "documents", *, max_docs: int = 50
) -> str:
    """Oracle for graphops.clustering_coefficient over the lemma graph
    of doc_id < max_docs: naive ordered-triple triangle enumeration
    (exact at oracle scale) left-joined onto degrees; the Spark
    operator's oriented count must tally identically and the single
    rounded division is bit-equal (exact BIGINT numerator/denominator
    on both sides)."""
    return f"""WITH
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
e AS MATERIALIZED (
  SELECT DISTINCT least(src_key, dst_key) AS a,
                  greatest(src_key, dst_key) AS b
  FROM edge_rows WHERE src_key <> dst_key
),
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
),
tri AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
),
pern AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT d.node, d.deg,
       CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
       round(coalesce(p.triangles, 0) * 2.0 / (d.deg * (d.deg - 1)), 6)
         AS coeff
FROM deg d LEFT JOIN pern p ON p.node = d.node
WHERE d.deg >= 2
ORDER BY d.node
"""


def assortativity_sql(
    table: str = "documents", *, max_docs: int = 50
) -> str:
    """Oracle for graphops.degree_assortativity over the lemma graph of
    doc_id < max_docs: exact BIGINT moment sums over the doubled edge
    list, then the identical closed-form Pearson expression (cast to
    double in the same places as the Spark side) rounded to 6."""
    return f"""WITH
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
e AS MATERIALIZED (
  SELECT DISTINCT least(src_key, dst_key) AS a,
                  greatest(src_key, dst_key) AS b
  FROM edge_rows WHERE src_key <> dst_key
),
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
),
doubled AS (
  SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e
),
j AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM doubled
  JOIN deg dx ON dx.node = doubled.x
  JOIN deg dy ON dy.node = doubled.y
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(dx) AS DOUBLE) AS sx,
         CAST(sum(dy) AS DOUBLE) AS sy,
         CAST(sum(dx * dy) AS DOUBLE) AS sxy,
         CAST(sum(dx * dx) AS DOUBLE) AS sxx,
         CAST(sum(dy * dy) AS DOUBLE) AS syy
  FROM j
)
SELECT cnt // 2 AS n_edges,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN round((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
            ELSE NULL END AS assortativity
FROM m
"""


def ktruss_sql(
    table: str = "documents", *, max_docs: int = 50,
    k: int = 4, rounds: int = 8,
) -> str:
    """Oracle for graphops.ktruss over the lemma graph of doc_id <
    max_docs: the edge peel unrolled ``rounds`` times with naive
    triangle enumeration per round (exact at oracle scale). The fixed
    point is stable — peeling a converged truss recomputes identical
    supports — so any unroll depth >= the true peel depth matches the
    Spark operator's converged result (kcore_sql precedent)."""
    steps = []
    for i in range(1, rounds + 1):
        prev = f"te{i - 1}"
        steps.append(f"""tri{i} AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM {prev} e1
  JOIN {prev} e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN {prev} e3 ON e3.a = e1.b AND e3.b = e2.b
),
sup{i} AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
    SELECT x AS a, y AS b FROM tri{i}
    UNION ALL SELECT x, z FROM tri{i}
    UNION ALL SELECT y, z FROM tri{i}
  ) GROUP BY a, b HAVING count(*) >= {k - 2}
),
te{i} AS MATERIALIZED (SELECT a, b FROM sup{i})""")
    chain = ",\n".join(steps)
    return f"""WITH
{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
te0 AS MATERIALIZED (
  SELECT DISTINCT least(src_key, dst_key) AS a,
                  greatest(src_key, dst_key) AS b
  FROM edge_rows WHERE src_key <> dst_key
),
{chain}
SELECT a, b, support FROM sup{rounds} ORDER BY a, b
"""


def hits_sql(
    table: str = "documents", *, max_docs: int = 50, max_iter: int = 8,
) -> str:
    """Oracle for pagerank.hits over the lemma graph of doc_id <
    max_docs: the fixed-round auth→hub update unrolled step-identically
    (same L2 norms, same coalesce-to-zero for sink/source nodes), so
    the only cross-engine difference is double-sum association order —
    absorbed by round(,6) exactly as the PageRank chain's is."""
    parts = [f"""{graph_ctes(f'(SELECT * FROM {table} WHERE doc_id < {max_docs}) AS lim')},
h_e AS MATERIALIZED (
  SELECT DISTINCT src_key AS src, dst_key AS dst
  FROM edge_rows WHERE src_key <> dst_key
),
h_nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM h_e UNION ALL SELECT dst FROM h_e
  )
),
h_h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM h_nodes)"""]
    for k in range(1, max_iter + 1):
        parts.append(f"""h_ar{k} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub) AS v
  FROM h_h{k - 1} h JOIN h_e e ON h.node = e.src
  GROUP BY e.dst
),
h_an{k} AS MATERIALIZED (SELECT sqrt(sum(v * v)) AS s FROM h_ar{k}),
h_a{k} AS MATERIALIZED (
  SELECT n.node, coalesce(r.v, 0.0) / (SELECT s FROM h_an{k}) AS auth
  FROM h_nodes n LEFT JOIN h_ar{k} r ON n.node = r.node
),
h_hr{k} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.auth) AS v
  FROM h_a{k} a JOIN h_e e ON a.node = e.dst
  GROUP BY e.src
),
h_hn{k} AS MATERIALIZED (SELECT sqrt(sum(v * v)) AS s FROM h_hr{k}),
h_h{k} AS MATERIALIZED (
  SELECT n.node, coalesce(r.v, 0.0) / (SELECT s FROM h_hn{k}) AS hub
  FROM h_nodes n LEFT JOIN h_hr{k} r ON n.node = r.node
)""")
    chain = ",\n".join(parts)
    return f"""WITH
{chain}
SELECT a.node, round(a.auth, 6) AS authority, round(h.hub, 6) AS hub
FROM h_a{max_iter} a JOIN h_h{max_iter} h ON a.node = h.node
ORDER BY a.node
"""


def entity_pmi_sql(
    table: str = "documents",
    *,
    pos: str = "NOUN",
    min_co: int = 2,
    max_per_doc: int = 50,
) -> str:
    """Oracle for extract.entity_pmi — document-level co-mention PMI of
    linked ``pos`` lemma nodes, sharing graph_ctes with the tagger twin
    so the mention set cannot drift."""
    return f"""WITH
{graph_ctes(table)},
m AS MATERIALIZED (
  SELECT DISTINCT doc_id, node_key FROM mention_rows
  WHERE kind = 'lem' AND pos = '{pos}'
),
elig AS (SELECT doc_id FROM m GROUP BY doc_id HAVING count(*) <= {int(max_per_doc)}),
m2 AS MATERIALIZED (SELECT m.* FROM m JOIN elig USING (doc_id)),
df AS (SELECT node_key, count(*) AS df FROM m2 GROUP BY node_key),
pairs AS (
  SELECT a.node_key AS key_a, b.node_key AS key_b, count(*) AS co_docs
  FROM m2 a JOIN m2 b ON a.doc_id = b.doc_id AND a.node_key < b.node_key
  GROUP BY 1, 2 HAVING count(*) >= {int(min_co)}
),
tot AS (SELECT count(*) AS n_docs FROM {table})
SELECT key_a, key_b, co_docs, da.df AS df_a, db.df AS df_b,
       round(ln(co_docs * 1.0 * n_docs / (da.df * db.df)), 6) AS pmi
FROM pairs
JOIN df da ON pairs.key_a = da.node_key
JOIN df db ON pairs.key_b = db.node_key
CROSS JOIN tot
"""
