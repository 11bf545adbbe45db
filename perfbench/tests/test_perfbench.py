"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import expect  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a = gen.dump(gen.generate(7))
    assert a == gen.dump(gen.generate(7))
    assert a != gen.dump(gen.generate(8))
    assert gen.dump(gen.load_or_generate(str(tmp_path), 7)) == a
    assert gen.dump(gen.load_or_generate(str(tmp_path), 7)) == a  # cached copy


def test_generator_sizes_do_not_depend_on_the_seed():
    for seed in (1, 2):
        api = gen.generate(seed)
        records = [r for d in api["days"] for recs in d["visitors"].values() for r in recs]
        originals = {id(r): r for r in records}.values()  # re-deliveries share objects
        assert sum(len(r["events"] or []) for r in originals) == gen.N_EVENTS
        assert len(api["media"]) == gen.N_MEDIA
        assert len(api["days"]) == gen.N_DAYS
        assert all(len(d["visitors"]) == gen.N_MEDIA for d in api["days"])


def test_self_time_on_a_two_child_toy():
    toy = [
        spans.Span("op", 0.0, 10.0, None, "op0"),
        spans.Span("a", 1.0, 3.0, 0, "op0"),
        spans.Span("b", 5.0, 9.0, 0, "op0"),
    ]
    assert spans.self_times(toy) == [4.0, 2.0, 4.0]
    # overlapping children cover their union once
    toy[2] = spans.Span("b", 2.0, 4.0, 0, "op0")
    assert spans.self_times(toy) == [7.0, 2.0, 2.0]


def _tiny_silver() -> expect.Silver:
    t0 = gen.FIRST_EPOCH
    play = lambda t, d, p: {"type": "play", "time": t, "duration_watched": d,
                            "percent_watched": p}
    visitors = [
        {"visitor_key": "v1", "ip_address": "10.0.0.1", "country": "US", "media_id": "m1",
         "events": [play(t0, 10.0, 50.0), play(t0 + 60, None, 25.0),
                    {"type": "pause", "time": t0, "duration_watched": 5.0,
                     "percent_watched": 1.0}]},
        {"visitor_key": None, "ip_address": None, "country": "DE", "media_id": "m1",
         "events": [play(t0, 1.0, 1.0)]},
        {"visitor_key": "v2", "ip_address": "10.0.0.2", "country": None, "media_id": "m2",
         "events": None},
    ]
    media = [{"hashed_id": "m1", "name": "YouTube launch", "created": 1},
             {"hashed_id": "m2", "name": None, "created": 2}]
    return expect.silver(media, visitors)


def test_expected_model_applies_the_silver_rules():
    s = _tiny_silver()
    assert s.fact == {("m1", "v1", gen.FIRST_DAY): (2, 10.0, 37.5)}
    assert s.dim_media == {"m1": ("YouTube launch", "YouTube"), "m2": ("Untitled", "Wistia")}
    assert len(s.dim_visitor) == 3  # v1, v2 and one repaired key


def summarize_fact(rows: list[tuple]) -> dict:
    """The checker's summary of fact rows ``(media_id, visitor_id, date,
    play_count, total_watch_time_seconds)``."""
    keys = [r[:3] for r in rows]
    return {
        "rows": len(rows),
        "play_count": sum(r[3] for r in rows),
        "watch_s": sum(r[4] for r in rows),
        "duplicate_keys": len(keys) - len(set(keys)),
    }


def test_checker_rejects_a_planted_wrong_fact_row():
    s = _tiny_silver()
    rows = [(*k, v[0], v[1]) for k, v in s.fact.items()]
    dims = {"dim_media": len(s.dim_media), "dim_visitor": len(s.dim_visitor)}
    assert expect.check_medallion(s, {**summarize_fact(rows), **dims}) == []
    planted = rows + [("m1", "planted", gen.FIRST_DAY, 1, 0.0)]
    assert expect.check_medallion(s, {**summarize_fact(planted), **dims})
    duplicated = rows + rows[:1]
    errors = expect.check_medallion(s, {**summarize_fact(duplicated), **dims})
    assert any(e.startswith("duplicate_keys") for e in errors)


def test_gold_checker_rejects_a_missing_row():
    s = _tiny_silver()
    want = expect.gold(s)
    trend = [(gen.FIRST_DAY, 2)]
    assert want["daily_plays_trend"] == trend
    assert expect.check_gold("daily_plays_trend", want["daily_plays_trend"], trend) == []
    assert expect.check_gold("daily_plays_trend", want["daily_plays_trend"], [])
    assert expect.check_gold("avg_completion", 37.5, 37.51) == []  # one unit in the last place
    assert expect.check_gold("avg_completion", 37.5, 37.53)


def test_round2_is_half_up_like_spark():
    assert expect.round2(2.675) == 2.68  # the double is 2.67499..., Spark's BigDecimal is 2.675
    assert expect.round2(0.125) == 0.13


class _FakeWorkload:
    """Ops that take a millisecond; a planted fault raises."""

    sizes: dict = {}

    def pass_ops(self):
        return ["a", "b"]

    def before_op(self):
        pass

    def run_op(self, name, plant=None):
        time.sleep(0.001)
        if plant == "raise":
            raise RuntimeError("planted")
        return lambda: ["wrong"] if plant == "wrong" else []


def test_error_rate_counts_an_injected_op_exception():
    clean = run.measure(_FakeWorkload(), spans.NoTrace(), 0.02)
    assert clean["failed"] == 0 and clean["attempted"] >= 10
    for plant in ("raise", "wrong"):
        m = run.measure(_FakeWorkload(), spans.NoTrace(), 0.02, plant)
        assert m["failed"] == m["attempted"] // run.PLANT_EVERY > 0
        assert len(m["op_s"]) == m["attempted"] == 2 * len(m["pass_s"])


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    assert run.tail(values) == (90.0, 90.0, 10)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
