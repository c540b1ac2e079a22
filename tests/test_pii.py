"""PII family: detection counts, typed-placeholder redaction, DuckDB
twin parity, generator parity, and the optional pipeline stage.

Reference parity note: the reference (DerwenAI/textgraphs) has no PII
surface; this family belongs to the training-data-curation toolkit the
graft adds. Patterns are restricted to Java-regex/RE2 common syntax so
every operator has a byte-reproducible oracle.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from textgraphs_spark.operators.pii import (
    PII_PATTERNS,
    pii_redact_select,
    pii_signals,
    pii_signals_select,
    redact_pii,
)
from textgraphs_spark.sources.pages import pii_pages, pii_pages_sql


def test_pii_generator_parity(spark):
    """pii_pages and its SQL twin regenerate the identical corpus, and
    the corpus actually exercises every pattern class."""
    got = {r["doc_id"]: r["text"] for r in pii_pages(spark, 200).collect()}
    con = duckdb.connect()
    want = {int(a): b for a, b in con.execute(pii_pages_sql(200)).fetchall()}
    assert got == want and len(got) == 200
    blob = "\n".join(got.values())
    assert "@example" in blob and "call 555-" in blob
    assert "served from 10." in blob and "ref 123-45-" in blob
    assert "user@localhost" in blob  # negative decoy present


def test_pii_semantics_unit(spark):
    """Known strings → known counts and redactions, including every
    negative decoy class and the mutual-exclusion of the two dashed
    number shapes (3-3-4 phone vs 3-2-4 id)."""
    rows = [
        (0, "reach me at jo.doe+x@mail-host.co or 555-123-4567"),
        (1, "ssn 987-65-4321 but version 1.2.3 and price 3.50"),
        (2, "hosts 192.168.0.1 and 10.2.3.44, not 1.2.3"),
        (3, "user@localhost 12.34 12-34-5678 5551234567"),
        (4, None),
        (5, ""),
        (6, "two mails a@b.io c@d.org one ip 8.8.8.8"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r["doc_id"]: r for r in pii_signals(docs).collect()}
    assert (sig[0]["n_email"], sig[0]["n_phone"]) == (1, 1)
    assert (sig[1]["n_id"], sig[1]["n_phone"], sig[1]["n_ipv4"]) == (1, 0, 0)
    assert sig[2]["n_ipv4"] == 2
    # decoys: no TLD, decimals, 2-2-4 dashes, undashed digits
    assert sig[3]["n_pii"] == 0
    assert sig[4]["n_pii"] == 0 and sig[4]["pii_per_10k_chars"] == 0.0
    assert sig[5]["n_pii"] == 0
    assert (sig[6]["n_email"], sig[6]["n_ipv4"]) == (2, 1)

    red = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert red[0]["clean_text"] == "reach me at <EMAIL> or <PHONE>"
    assert red[1]["clean_text"] == "ssn <ID> but version 1.2.3 and price 3.50"
    assert red[2]["clean_text"] == "hosts <IP> and <IP>, not 1.2.3"
    assert red[3]["clean_text"] == rows[3][1]  # decoys untouched
    assert red[4]["clean_text"] == "" and red[4]["n_redacted"] == 0
    assert red[6]["n_redacted"] == 3


def test_pii_fuzz_parity(spark):
    """Engine-parity fuzz: random dirty text (embedded PII snippets,
    near-miss decoys, unicode, quotes, NULLs) through pii_signals /
    redact_pii vs the shared DuckDB twins — the same SQL the driver
    oracle applies."""
    rng = random.Random(20260818)
    pii_bits = [
        "x{0}@y{1}.com", "555-{0:03d}-{1:04d}", "10.{0}.{1}.9",
        "{0:03d}-4{1:01d}-9{0:03d}",
    ]
    decoys = [
        "v1.2.3", "3.50", "user@nohost", "12-34-5678", "a@b.c",
        "útf ©", "it's 'quoted'", "255.255.255.255.255",
    ]
    rows = []
    for i in range(250):
        words = []
        for _ in range(rng.randint(0, 8)):
            r = rng.random()
            if r < 0.35:
                words.append(
                    rng.choice(pii_bits).format(rng.randint(0, 999),
                                                rng.randint(0, 9999))
                )
            elif r < 0.7:
                words.append(rng.choice(decoys))
            else:
                words.append(f"w{rng.randint(0, 50)}")
        text = " ".join(words)
        rows.append((i, None if rng.random() < 0.05 else text))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    vals = ", ".join(
        "(%d, %s)" % (i, "NULL" if t is None else "'" + t.replace("'", "''") + "'")
        for i, t in rows
    )
    src = f"SELECT * FROM (VALUES {vals}) t(doc_id, text)"

    got = {r["doc_id"]: tuple(r) for r in pii_signals(docs).collect()}
    want = {
        int(a): (int(a), int(b), int(c), int(d), int(e), int(f), float(g))
        for a, b, c, d, e, f, g in con.execute(pii_signals_select(src)).fetchall()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k][:6] == want[k][:6], (k, got[k], want[k])
        assert got[k][6] == pytest.approx(want[k][6], abs=1e-9), k
    assert any(g[5] > 0 for g in got.values())  # PII actually fired

    got_r = {tuple(r) for r in redact_pii(docs).collect()}
    want_r = {
        (int(a), b, int(c), int(d), int(e), int(f), int(g))
        for a, b, c, d, e, f, g in con.execute(pii_redact_select(src)).fetchall()
    }
    assert got_r == want_r


def test_pii_plan_is_map_only(spark):
    """Both operators must stay one whole-stage-codegen projection over
    the scan: no Exchange anywhere in either plan (the 100 TB shape)."""
    docs = pii_pages(spark, 50)
    for df in (pii_signals(docs), redact_pii(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_pii_patterns_are_mutually_exclusive():
    """The count-then-chain-replace contract requires the classes never
    overlap on each other's canonical shapes."""
    import re

    samples = {
        "email": "ab.c+d@ex-1.org",
        "ipv4": "10.2.3.44",
        "id": "987-65-4321",
        "phone": "555-123-4567",
    }
    for kind, pat, _ in PII_PATTERNS:
        for skind, s in samples.items():
            hit = re.search(pat, s) is not None
            assert hit == (kind == skind), (kind, skind)


def test_curation_ladder_pii_gate(spark):
    """Optional 'pii' verdict gate: a PII-dense doc that passes every
    other gate is dropped with reason 'pii' when the bound is set, kept
    when it is None (default semantics unchanged — the driver's
    corpus_curation oracle runs with the gate off)."""
    from textgraphs_spark.operators.webdata import curation_decisions

    clean = ("the quiet analyst wrote careful notes about the spark plans "
             "and the steady results were reviewed with patient attention")
    dense = clean + " contact a@b.io c@d.io e@f.io g@h.io and 10.1.2.3"
    docs = spark.createDataFrame(
        [(0, clean), (1, dense)], "doc_id long, text string"
    )
    base = {r["doc_id"]: r["reason"]
            for r in curation_decisions(docs, threshold=0.99).collect()}
    assert base == {0: "keep", 1: "keep"}
    gated = {r["doc_id"]: r["reason"]
             for r in curation_decisions(
                 docs, threshold=0.99, max_pii_per_10k=100.0).collect()}
    assert gated == {0: "keep", 1: "pii"}
