"""The executable golden suite: every contract query vs its DuckDB oracle.

Exactly the check the driver runs at sf0.01 (row count + schema + value
compare, order-insensitive), run here at sf0.001 for speed. Queries with
``oracle=None`` get a rows-only smoke (must build + count without error).
"""

from __future__ import annotations

import pytest

from simple_pos_kafka_pyspark_airflow_spark.plans import load_registry
from simple_pos_kafka_pyspark_airflow_spark.testing import check_query

REGISTRY = load_registry()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_contract_query(spark, sf_dir, name):
    res = check_query(spark, name, sf_dir)
    assert res.ok, str(res)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns == ["c_custkey", "c_name", "lifetime_spend", "membership_level"]
    assert len(rows) > 0


def test_every_query_has_registry_metadata():
    for name, cq in REGISTRY.items():
        assert cq.category
        assert cq.notes, f"{name} missing notes"


STRICT_SAMPLE = [
    "q_tpch_q1",      # ROUND over money sums + avgs
    "q_agg_sum",      # ROUND(SUM) per group
    "q_derive_arith", # FLOOR-cents canonicalization (round-1 driver failure)
    "q_tpch_q8",      # ROUND of a ratio of sums
    "q_text_tfidf",   # ROUND of tf * ln(ratio)
    "q_window_cume",  # rank-count ratios, no rounding at all
    "q_simsearch_batch",  # ROUND of cosine quotients feeding rank selection
    "q_anomaly_zscore",   # ROUND of a z-score quotient feeding the |z| gate
]


@pytest.mark.parametrize("name", STRICT_SAMPLE)
def test_float_queries_bit_identical(spark, sf_dir, name):
    """The driver's gate is a value HASH — floats must match bit-for-bit,
    not within tolerance. Pin the float-heaviest query families to the
    strict compare so a tolerance-masked drift can't reach the driver
    (round 1's q_derive_arith failed exactly this way)."""
    res = check_query(spark, name, sf_dir, strict=True)
    assert res.ok, str(res)


def test_survey_inventory_matches_registry():
    """SURVEY.md §2 is the judge-facing operator inventory — every query
    named there must exist in the registry and every registered query must
    be documented there. Drift in either direction is a contract bug."""
    import re

    doc = set(re.findall(r"\bq_[a-z0-9_]+\b", open("SURVEY.md").read()))
    reg = set(REGISTRY)
    assert doc - reg == set(), f"SURVEY names unknown queries: {sorted(doc - reg)}"
    assert reg - doc == set(), f"undocumented queries: {sorted(reg - doc)}"


def test_driver_ordering_is_a_permutation():
    """The driver-facing ordering must contain exactly the registry —
    a grouping bug that drops or duplicates a query would silently
    shrink the verification surface."""
    from simple_pos_kafka_pyspark_airflow_spark.plans.contract import driver_ordered_registry

    ordered = driver_ordered_registry()
    assert list(sorted(ordered)) == sorted(REGISTRY)
    assert len(ordered) == len(REGISTRY)


def test_driver_ordering_never_writes_the_ledger(tmp_path, monkeypatch):
    """Ordering the registry is read-only: a green round newer than the
    ledger's watermark is visible on disk, yet ``driver_ordered_registry``
    leaves the ledger file byte-for-byte unchanged (syncing is the
    ``sync`` CLI's job)."""
    import json

    from simple_pos_kafka_pyspark_airflow_spark.plans import contract

    p = tmp_path / "certified_oracles.json"
    p.write_text(json.dumps({"synced_through": 5, "queries": {}}))
    before = p.read_bytes()
    monkeypatch.setattr(contract, "_CERT_FILE", str(p))
    monkeypatch.setattr(contract, "_green_rows_from_disk", lambda: {"q_agg_sum": [6]})
    contract.driver_ordered_registry()
    assert p.read_bytes() == before


def test_certified_rotate_oldest_first():
    """Once every query is certified, the rotation must NOT converge to a
    fixed order: certified queries are ordered oldest-certification-first,
    so the driver's 50-query window perpetually re-verifies the stalest
    rows (round 5's window had converged to registration order and could
    never surface anything again)."""
    from simple_pos_kafka_pyspark_airflow_spark.plans.contract import (
        certification_state,
        driver_ordered_registry,
    )

    certified = certification_state(REGISTRY)
    ordered = list(driver_ordered_registry())
    rounds = [certified[n] for n in ordered if n in certified]
    assert rounds == sorted(rounds), "certified queries not oldest-first"


def test_oracle_rewrite_decertifies(tmp_path, monkeypatch):
    """An oracle-text edit must void the standing certification (the green
    row on disk was earned by the OLD oracle) so the query re-enters the
    driver window.  Round 5's rewrites rode stale certifications and were
    never driver-run — the sha in the ledger prevents a recurrence."""
    import json

    from simple_pos_kafka_pyspark_airflow_spark.plans import contract

    ledger = {
        "synced_through": 5,
        "queries": {
            "q_agg_sum": {"round": 5, "sha": "0" * 16},  # wrong sha = rewritten oracle
            "q_agg_count": {
                "round": 4,
                "sha": contract._oracle_sha(REGISTRY["q_agg_count"].oracle),
            },
        },
    }
    p = tmp_path / "certified_oracles.json"
    p.write_text(json.dumps(ledger))
    monkeypatch.setattr(contract, "_CERT_FILE", str(p))
    state = contract.certification_state(REGISTRY)
    assert "q_agg_sum" not in state, "sha mismatch must decertify"
    assert state.get("q_agg_count") == 4


def test_sync_respects_watermark(tmp_path, monkeypatch):
    """``sync_certifications`` must only interpret CORRECTNESS rounds newer
    than the ledger watermark — old green rows (possibly earned by a
    since-rewritten oracle) are never re-read against today's oracle."""
    import json

    from simple_pos_kafka_pyspark_airflow_spark.plans import contract

    p = tmp_path / "certified_oracles.json"
    p.write_text(json.dumps({"synced_through": 99, "queries": {}}))
    monkeypatch.setattr(contract, "_CERT_FILE", str(p))
    changed = contract.sync_certifications(REGISTRY)
    assert changed == 0
    assert json.loads(p.read_text())["queries"] == {}


def test_sync_certifies_new_round_greens(tmp_path, monkeypatch):
    """The positive path the next round relies on: a green row in a round
    NEWER than the watermark certifies its query at that round with the
    current oracle sha, advances the watermark, and the query then sorts
    into the certified group."""
    import json

    from simple_pos_kafka_pyspark_airflow_spark.plans import contract

    p = tmp_path / "certified_oracles.json"
    p.write_text(json.dumps({"synced_through": 5, "queries": {}}))
    monkeypatch.setattr(contract, "_CERT_FILE", str(p))
    monkeypatch.setattr(
        contract, "_green_rows_from_disk", lambda: {"q_agg_sum": [3, 6], "q_ghost": [6]}
    )
    changed = contract.sync_certifications(REGISTRY)
    assert changed == 1  # q_agg_sum added; q_ghost not in registry -> ignored
    ledger = json.loads(p.read_text())
    assert ledger["synced_through"] == 6
    assert ledger["queries"]["q_agg_sum"]["round"] == 6
    state = contract.certification_state(REGISTRY)
    assert state == {"q_agg_sum": 6}
    # idempotent: a second sync sees nothing newer than the watermark
    assert contract.sync_certifications(REGISTRY) == 0


def test_stale_code_recert_voids_old_certs_only(tmp_path, monkeypatch):
    """``_STALE_CODE_RECERT`` voids a certification recorded at or before
    the listed round (the operator CODE changed after the driver's green
    row, which the oracle-sha mechanism can't see) but must leave a NEWER
    certification standing — that's what makes the entry self-clearing
    once the next driver round re-verifies the query."""
    import json

    from simple_pos_kafka_pyspark_airflow_spark.plans import contract

    sha = contract._oracle_sha(REGISTRY["q_agg_sum"].oracle)
    p = tmp_path / "certified_oracles.json"
    p.write_text(
        json.dumps(
            {
                "synced_through": 14,
                "queries": {
                    "q_agg_sum": {"round": 13, "sha": sha},
                },
            }
        )
    )
    monkeypatch.setattr(contract, "_CERT_FILE", str(p))
    monkeypatch.setattr(contract, "_STALE_CODE_RECERT", {"q_agg_sum": 13})
    assert "q_agg_sum" not in contract.certification_state(REGISTRY)
    # driver re-verifies in a later round -> the entry becomes inert
    p.write_text(
        json.dumps(
            {
                "synced_through": 14,
                "queries": {"q_agg_sum": {"round": 14, "sha": sha}},
            }
        )
    )
    assert contract.certification_state(REGISTRY).get("q_agg_sum") == 14


def test_stale_code_recert_queries_stay_in_window_until_recertified():
    """Window contract for ``_STALE_CODE_RECERT`` (VERDICT r13 task 1): a
    query whose cert was voided by a code edit must sit in the driver
    window UNTIL a later driver round re-certifies it, after which the
    entry goes inert and the query rotates out on normal ledger age.
    (The original r14 form asserted the pre-sync moment — all six r13
    entries in the window — which correctly stopped holding the instant
    CORRECTNESS_r14 landed and re-certified them; r15 inherited-state
    fix.)"""
    from simple_pos_kafka_pyspark_airflow_spark.plans import contract

    window = list(contract.driver_ordered_registry())[:50]
    certified = contract.certification_state()
    for name, voided_round in contract._STALE_CODE_RECERT.items():
        if certified.get(name, 0) > voided_round:
            continue  # re-certified by a later driver round — entry inert
        assert name in window, (
            f"{name} cert voided at r{voided_round} and not re-certified, "
            "but outside the driver window"
        )


def test_ledger_shas_match_current_oracles():
    """Every standing ledger entry's sha must match the current oracle
    text.  A red run here means an oracle was rewritten without
    decertifying — delete the entry (or run the sync CLI after the next
    driver round) so the new oracle gets driver-verified."""
    import json

    from simple_pos_kafka_pyspark_airflow_spark.plans import contract

    with open(contract._CERT_FILE) as f:
        ledger = json.load(f)
    stale = {
        name: entry
        for name, entry in ledger["queries"].items()
        if name in REGISTRY
        and entry["sha"] != contract._oracle_sha(REGISTRY[name].oracle)
    }
    assert stale == {}, f"rewritten oracles still certified: {sorted(stale)}"


def test_bench_headline_names_resolve():
    """bench.py silently skips unknown names (names = [n for n in HEADLINE
    if n in registry]) — a renamed query would vanish from BENCH_r{N}
    without an error. Pin every headline name to the registry."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert missing == [], missing


def test_capped_selfjoin_caps_cannot_bind_on_contract_data():
    """ADVICE r7: q_dedup_editdist / q_dedup_prefix drop band/posting
    groups hotter than their caps (max_block / max_posting_docs = 10k),
    but their DuckDB oracles are uncapped — the contract stays exact only
    while NO group can reach the cap on certified data. Any group is
    bounded by the document count, so pin that bound for every sf the
    driver or the scale spot-check certifies against; if testdata ever
    grows past the cap, this goes red and the cap must be mirrored into
    the oracle instead."""
    import pyarrow.parquet as pq

    CAP = 10_000  # max_block (near_dup_pairs_editdist), max_posting_docs
    # (jaccard_pairs_prefix) — both default 10k in llm/dedup.py
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n_docs = pq.read_metadata(f"/root/testdata/{sf}/documents.parquet").num_rows
        assert n_docs < CAP, (
            f"{sf}: {n_docs} documents ≥ cap {CAP}; a band/posting group "
            "could now exceed the cap and silently diverge from the "
            "uncapped oracle — mirror the cap in the oracle SQL"
        )
