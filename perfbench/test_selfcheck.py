"""Self-tests for the helpers the benchmark's numbers rest on. Pure Python,
no Spark; run with ``python3 -m pytest perfbench/test_selfcheck.py`` (or
``python3 perfbench/test_selfcheck.py``) from the repository root."""

from __future__ import annotations

import json
import os
import statistics
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import wl_cdc  # noqa: E402
from stats import (  # noqa: E402
    attribute_freshness,
    file_commit_times,
    max_backlog,
    percentile,
    quartile_spread,
    replay_lww,
)
from tracing import COUNT_GROUP, without_group  # noqa: E402


# --- percentiles and the quartile spread -----------------------------------


@pytest.mark.parametrize("q", [0, 10, 25, 50, 90, 99, 100])
def test_percentile_matches_numpy_linear(q):
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3]
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_edges():
    assert percentile([7.0], 90) == 7.0
    assert percentile([1.0, 2.0], 50) == 1.5
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_quartile_spread_is_iqr_over_median():
    xs = [float(x) for x in range(1, 11)]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert q1 == 2.75 and q3 == 8.25
    assert quartile_spread(xs) == pytest.approx((8.25 - 2.75) / 5.5)
    assert quartile_spread([2.0] * 10) == 0.0


# --- CDC freshness attribution ---------------------------------------------


def test_freshness_takes_the_last_query_to_commit():
    released = {"a": 10.0, "b": 11.0}
    applied = {"sales": {"a": 12.0, "b": 12.0}, "products": {"a": 13.5, "b": 12.5}}
    fresh, missing = attribute_freshness(released, applied)
    assert fresh == {"a": pytest.approx(3.5), "b": pytest.approx(1.5)}
    assert missing == []


def test_freshness_reports_files_a_query_never_committed():
    fresh, missing = attribute_freshness(
        {"a": 1.0, "b": 2.0}, {"q1": {"a": 3.0, "b": 3.0}, "q2": {"a": 4.0}})
    assert fresh == {"a": 3.0}
    assert missing == ["b"]


def test_file_commit_times_drops_uncommitted_batches():
    log = [{"path": "file:///x/src/ev-00000.json", "batchId": 0},
           {"path": "file:///x/src/ev-00001.json", "batchId": 1},
           {"path": "file:///x/src/ev-00002.json", "batchId": 2}]
    assert file_commit_times(log, {0: 5.0, 1: 6.0}) == {"ev-00000.json": 5.0, "ev-00001.json": 6.0}


def test_applied_reads_a_checkpoint_including_compacted_logs(tmp_path):
    """The file-source log compacts every few batches into ``<n>.compact``,
    which repeats earlier entries; ``.crc`` side files must be ignored."""
    ck = tmp_path / "ck"
    (ck / "commits").mkdir(parents=True)
    (ck / "sources" / "0").mkdir(parents=True)
    entry = lambda f, b: json.dumps({"path": f"file:///s/{f}", "timestamp": 0, "batchId": b})  # noqa: E731
    (ck / "sources" / "0" / "0").write_text("v1\n" + entry("f0", 0) + "\n")
    (ck / "sources" / "0" / "1.compact").write_text(
        "v1\n" + entry("f0", 0) + "\n" + entry("f1", 1) + "\n")
    (ck / "sources" / "0" / ".1.compact.crc").write_text("junk")
    (ck / "sources" / "0" / "2").write_text("v1\n" + entry("f2", 2) + "\n")
    for b, t in ((0, 100), (1, 200)):
        p = ck / "commits" / str(b)
        p.write_text("v1\n{}\n")
        os.utime(p, ns=(t * 10**9, t * 10**9))
    assert wl_cdc._applied(str(ck)) == {"f0": 100.0, "f1": 200.0}


def test_max_backlog_counts_released_but_unapplied_files():
    released = {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0}
    applied = {"a": 2.5, "b": 2.5, "c": 2.5, "d": 3.5}
    # at t=2.0 a, b and c are all pending
    assert max_backlog(released, applied) == 3
    assert max_backlog(released, {}) == 4


# --- leaving the traced run's own Spark jobs out of the layer sums ---------


def test_without_group_drops_the_groups_jobs_and_the_stages_they_ran():
    t = lambda s: f"2026-01-01T00:00:{s:06.3f}GMT"  # noqa: E731
    jobs = [
        {"jobId": 0, "jobGroup": "batch0", "stageIds": [0, 1],
         "submissionTime": t(1), "completionTime": t(3)},
        {"jobId": 1, "jobGroup": COUNT_GROUP, "stageIds": [1, 2],  # reuses stage 1
         "submissionTime": t(4), "completionTime": t(5)},
        {"jobId": 2, "jobGroup": "batch0", "stageIds": [3],
         "submissionTime": t(6), "completionTime": t(7)},
    ]
    stages = [{"stageId": i, "submissionTime": t(ts)}
              for i, ts in ((0, 1.0), (1, 2.0), (2, 4.5), (3, 6.5))]
    kept_jobs, kept_stages = without_group(jobs, stages, COUNT_GROUP)
    assert [j["jobId"] for j in kept_jobs] == [0, 2]
    assert [s["stageId"] for s in kept_stages] == [0, 1, 3]


# --- the last-write-wins replay oracle -------------------------------------

PKS = {"sales": "sale_id", "customers": "customer_id"}


def test_replay_add_edit_remove():
    ev = [
        ("sales_add", {"sale_id": 1, "quantity": 2, "seq": 0}, 0),
        ("sales_add", {"sale_id": 2, "quantity": 1, "seq": 1}, 1),
        ("sales_edit", {"sale_id": 1, "quantity": 9, "seq": 2}, 2),
        ("sales_remove", {"sale_id": 2, "seq": 3}, 3),
        ("customers_add", {"customer_id": 7, "level": "Gold", "seq": 4}, 4),
    ]
    assert replay_lww(ev, PKS) == {
        "sales": {1: {"sale_id": 1, "quantity": 9}},
        "customers": {7: {"customer_id": 7, "level": "Gold"}},
    }


def test_replay_orders_by_seq_not_by_arrival():
    ev = [("sales_edit", {"sale_id": 1, "quantity": 5}, 9),
          ("sales_add", {"sale_id": 1, "quantity": 1}, 3)]
    assert replay_lww(ev, PKS)["sales"] == {1: {"sale_id": 1, "quantity": 5}}


def test_replay_remove_then_readd():
    ev = [("sales_add", {"sale_id": 1, "quantity": 1}, 0),
          ("sales_remove", {"sale_id": 1}, 1),
          ("sales_add", {"sale_id": 1, "quantity": 4}, 2)]
    assert replay_lww(ev, PKS)["sales"] == {1: {"sale_id": 1, "quantity": 4}}


# --- the generators ---------------------------------------------------------


def test_cdc_events_are_seeded_and_well_formed():
    a = datagen.cdc_events(5, 3000)
    assert a == datagen.cdc_events(5, 3000)
    assert a != datagen.cdc_events(6, 3000)
    assert [e[2] for e in a] == list(range(3000))
    live = set()
    counts = {"sales": 0, "products": 0, "customers": 0}
    for topic, payload, _ in a:
        entity, op = topic.rsplit("_", 1)
        counts[entity] += 1
        key = (entity, payload[wl_cdc.PKS[entity]])
        assert (op == "add") == (key not in live), topic  # add exactly when absent
        (live.discard if op == "remove" else live.add)(key)
    assert counts["sales"] > counts["products"] > counts["customers"]


def test_event_files_round_trip(tmp_path):
    ev = datagen.cdc_events(1, 25)
    files = datagen.write_event_files(str(tmp_path), ev, 10, "ev")
    assert [os.path.basename(p) for p in files] == [
        "ev-00000.json", "ev-00001.json", "ev-00002.json"]
    rows = [json.loads(line) for p in files for line in open(p)]
    assert [(r["topic"], json.loads(r["value"]), r["seq"]) for r in rows] == [
        (t, {**p, "seq": s}, s) for t, p, s in ev]


def test_corpus_docs_are_seeded_and_plant_duplicates():
    a = datagen.corpus_docs(3, 400)
    assert a == datagen.corpus_docs(3, 400)
    assert len(set(a["doc_id"])) == 400
    assert len(set(a["text"])) < 400  # planted exact copies
    norms = np.linalg.norm(np.array(a["embedding"]), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
