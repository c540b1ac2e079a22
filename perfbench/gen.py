"""Seeded input generators for the ER benchmark.

Every input is a pure function of ``(seed, size)`` and is produced on the
driver in plain Python, so the same seed always gives byte-identical
inputs and the generators can be tested without a Spark session. Each
generator returns the program's input rows plus a ground-truth map
``surface -> true entity id`` that stays on the benchmark side: the
program never sees it.
"""

from __future__ import annotations

import hashlib
import random

from textgraphs_spark.sources.pages import FIRST_NAMES, gen_page

PERSON = "http://dbpedia.org/ontology/Person"

# pages.py caps its entity universe at 754 people once a corpus has
# >= 3016 pages; a small base corpus and its fold batches are drawn from
# that same universe, so each mentions the whole population, as a crawl does
PAGES_UNIVERSE = 3016

_CONSONANTS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"


def doc_id(seed: int, i: int) -> int:
    """Stable signed 64-bit id of page ``i`` of the corpus drawn with ``seed``."""
    digest = hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=8).digest()
    return int.from_bytes(digest, "big", signed=True)


def pages(seed: int, n_pages: int, *, universe: int | None = None
          ) -> tuple[list[dict], dict[str, int]]:
    """``n_pages`` synthetic pages as (doc_id, text) rows, and the truth map
    of every person surface form they mention.

    Page ``i`` is ``sources.pages.gen_page(seed, i, universe)`` — the
    library's own corpus generator, whose surnames carry pairwise-distinct
    initials so each surface form names exactly one entity."""
    universe = universe or n_pages
    rows, truth = [], {}
    for i in range(n_pages):
        page = gen_page(seed, i, universe)
        rows.append({"doc_id": doc_id(seed, i), "text": page["text"]})
        for t in page["truth"]:
            truth[t["surface"]] = t["entity_id"]
    return rows, truth


def _surname(rng: random.Random) -> str:
    n_syl = rng.choice((2, 2, 3, 3, 4))
    syl = [rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(n_syl)]
    return ("".join(syl) + rng.choice(("", "n", "r", "s", "k"))).capitalize()


def entity_key(surface: str) -> str:
    """Key in the shape extraction emits: per-token lemma '.PROPN' joined."""
    return ".".join(f"{tok.lower()}.PROPN" for tok in surface.split())


def vocabulary(seed: int, n_forms: int) -> tuple[list[dict], dict[str, int]]:
    """``n_forms`` entity surface forms as run_lean ``entities`` rows
    (entity_key, surface, label, mention_count, doc_freq), and their truth.

    Names are Zipf-skewed: the surname of rank r carries about
    26 / sqrt(r) people (capped at 26, one per first initial, as in
    sources/pages.py), first names follow a Zipf popularity, and the most
    popular people have the most middle-initial variants. Forms sharing
    a popular first name fill MinHash band blocks past the default
    ``max_block_size`` and engage salting.

    Every surface form names exactly one person: forms are deduplicated,
    and a transposition typo is dropped when it would spell another
    family's surname, so a name block never mixes two people."""
    rng = random.Random(f"vocab:{seed}")
    initials = [f[0] for f in FIRST_NAMES]
    surnames: set[str] = set()
    typo_tokens: set[str] = set()
    rows: list[dict] = []
    truth: dict[str, int] = {}
    rank = people = 0
    while len(rows) < n_forms:
        rank += 1
        last = _surname(rng)
        while last in surnames or last in typo_tokens:
            last = _surname(rng)
        surnames.add(last)
        family = min(26, max(1, round(26 / rank ** 0.5)))
        # first names are Zipf-popular too (weighted sampling without
        # replacement keeps the initials within a family distinct)
        order = sorted(
            range(len(FIRST_NAMES)),
            key=lambda i: rng.random() ** (i + 1) ** 2, reverse=True,
        )
        for first in (FIRST_NAMES[i] for i in order[:family]):
            ent, people = people, people + 1
            fame = rng.random() / rank ** 0.3
            forms = [f"{first} {last}", f"{first[0]}. {last}"]
            n_mid = min(len(initials), int(fame * 12) + rng.randint(0, 2))
            forms += [f"{first} {m}. {last}" for m in rng.sample(initials, n_mid)]
            for _ in range(rng.randint(0, 2)):
                k = rng.randrange(1, len(last) - 1)
                typo = last[:k] + last[k + 1] + last[k] + last[k + 2:]
                if typo != last and typo not in surnames:
                    typo_tokens.add(typo)
                    forms.append(f"{first} {typo}")
            for surface in forms:
                if surface in truth or len(rows) >= n_forms:
                    continue
                truth[surface] = ent
                mentions = 1 + int(rng.paretovariate(1.2) * fame * 10)
                rows.append({
                    "entity_key": entity_key(surface),
                    "surface": surface,
                    "label": PERSON,
                    "mention_count": mentions,
                    "doc_freq": rng.randint(1, mentions),
                })
    return rows, truth
