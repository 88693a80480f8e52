"""The checkers accept right answers and reject planted wrong ones."""

import pandas as pd
import pytest

import checks
from tracing import Tracer
from workloads import tail_stat


def _log():
    return pd.DataFrame(
        {
            "user_id": [1, 1, 2, 1, 3],
            "ts_us": [10, 30, 5, 20, 7],  # key 1's ts 20 arrives after 30: a no-op
            "event_id": [0, 1, 2, 3, 4],
            "event_type": ["a", "b", "c", "d", "e"],
            "value": [1.0, 2.0, 3.0, 4.0, 5.0],
            "props": ["{}"] * 5,
        }
    )


def test_oracle_is_last_writer_wins_by_order_not_arrival():
    want = checks.lww_oracle(_log())
    assert want.user_id.tolist() == [1, 2, 3]
    assert want.set_index("user_id").loc[1, "event_type"] == "b"


def test_state_checker_rejects_planted_wrong_answers():
    want = checks.lww_oracle(_log())
    assert checks.state_mismatches(want.sample(frac=1, random_state=0), want) == []
    wrong_value = want.copy()
    wrong_value.loc[0, "value"] = 99.0
    assert checks.state_mismatches(wrong_value, want)
    missing_key = want.iloc[1:]
    assert checks.state_mismatches(missing_key, want)
    stale = checks.lww_oracle(_log()[_log().event_id != 1])  # key 1 lost its newest event
    assert checks.state_mismatches(stale, want)


def test_lookup_checker_rejects_planted_wrong_answers():
    want = checks.lww_oracle(_log()).set_index("user_id", drop=False)
    right = {"user_id": 1, "ts_us": 30, "event_id": 1, "event_type": "b", "value": 2.0}
    assert checks.lookup_ok(right, want, 1)
    assert checks.lookup_ok(None, want, 42)
    assert not checks.lookup_ok({**right, "value": 4.0}, want, 1)
    assert not checks.lookup_ok(None, want, 1)  # a hit answered as a miss
    assert not checks.lookup_ok(right, want, 42)  # a miss answered with a row


def test_pair_checker_recomputes_jaccard():
    texts = {
        1: "a b c d e f g h",
        2: "a b c d e f g x",  # 5 of 7 shingles shared
        3: "h g f e d c b a",
    }
    inter, j = checks.jaccard(texts[1], texts[2])
    assert (inter, round(j, 6)) == (5, round(5 / 7, 6))
    good = pd.DataFrame({"doc_a": [1], "doc_b": [2], "n_inter": [5], "jaccard": [round(5 / 7, 6)]})
    assert checks.bad_pairs(good, texts, 0.5) == []
    assert checks.bad_pairs(good, texts, 0.8)  # below the threshold
    planted = pd.DataFrame({"doc_a": [1], "doc_b": [3], "n_inter": [6], "jaccard": [0.75]})
    assert checks.bad_pairs(planted, texts, 0.5)
    wrong_count = good.assign(n_inter=[6])
    assert checks.bad_pairs(wrong_count, texts, 0.5)


def test_pair_checker_rounds_half_up_like_spark():
    # 65/128 = 0.5078125 exactly: Spark rounds it to 0.507813, round() to 0.507812.
    assert checks.round6(65 / 128) == 0.507813
    toks = [f"t{i}" for i in range(200)]
    a, b = " ".join(toks[:67]), " ".join(toks[:130])  # 65 shared of 128 shingles
    pair = pd.DataFrame({"doc_a": [1], "doc_b": [2], "n_inter": [65], "jaccard": [0.507813]})
    assert checks.bad_pairs(pair, {1: a, 2: b}, 0.5) == []


def test_id_set_checker():
    assert checks.id_set_mismatch([3, 1, 2], [1, 2, 3]) == ""
    assert checks.id_set_mismatch([1, 2], [1, 2, 3])
    assert checks.id_set_mismatch([1, 2, 3, 3], [1, 2, 3])
    assert checks.id_set_mismatch([1, 2, 4], [1, 2, 3])


def test_ledger_counts_failures():
    led = checks.Ledger()
    with led.op("call"):
        pass
    led.record("fine", True)
    led.record("planted", False, "wrong row")
    assert (led.attempted, led.failed, led.failures) == (3, 1, ["planted: wrong row"])


def test_ledger_counts_a_raising_call_as_failed():
    led = checks.Ledger()
    with pytest.raises(ValueError), led.op("api.get"):
        raise ValueError("boom")
    assert (led.attempted, led.failed, led.failures) == (1, 1, ["api.get: ValueError: boom"])
    assert isinstance(led.raised, ValueError)


def test_tail_stat_keeps_ten_samples_beyond():
    assert tail_stat(list(range(10))) is None
    t = tail_stat(list(range(1, 41)))
    assert (t["value"], t["percentile"], t["n"]) == (30, 75, 40)
    assert sum(x > t["value"] for x in range(1, 41)) == 10


def test_self_time_subtracts_covered_children():
    tr = Tracer(enabled=False)
    with tr.span("outer") as outer:
        for name in "abc":
            with tr.span(name):
                pass
    a, b, c = (tr.named(n)[0] for n in "abc")
    outer.start, outer.end = 0.0, 10.0
    a.start, a.end = 1.0, 4.0
    b.start, b.end = 3.0, 6.0  # overlaps a: covered 1..6
    c.start, c.end = 8.0, 12.0  # clipped to the parent: 8..10
    assert tr.self_seconds(outer) == pytest.approx(3.0)
