"""Determinism self-test of the benchmark's input generators (no Spark).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import DocFeed, WeatherFeed  # noqa: E402

CITIES, STORE, BATCH = 20, 60, 40


def test_weather_same_seed_same_bytes():
    a, b = WeatherFeed(7, CITIES), WeatherFeed(7, CITIES)
    assert a.backfill_bytes(3) == b.backfill_bytes(3)
    assert a.day_bytes(5) == b.day_bytes(5)


def test_weather_seeds_differ_with_equal_sizes():
    a, b = WeatherFeed(1, CITIES), WeatherFeed(2, CITIES)
    (da, ta), (db, tb) = a.day_bytes(4), b.day_bytes(4)
    assert da != db
    assert ta == tb  # rows in, survivors, inserts, updates, lines
    assert da.count(b"\n") == db.count(b"\n")
    assert a.backfill_bytes(3)[1] == b.backfill_bytes(3)[1]


def test_weather_truth_accounts_for_every_plant():
    feed = WeatherFeed(3, CITIES)
    _, t = feed.day_bytes(2)
    slots = CITIES * 24
    assert t.inserted == slots - int(slots * 0.01) * 2  # nulls + out-of-range
    assert t.updated == int(len(feed._day(1, redeliver=False).survivors) * 0.05)
    assert t.survivors == t.inserted + t.updated
    assert t.rows_in == slots + int(slots * 0.04) + t.updated
    assert t.lines > t.rows_in  # corrupt lines are landed but never parsed


def test_docs_same_seed_same_bytes():
    a, b = DocFeed(7, STORE, BATCH), DocFeed(7, STORE, BATCH)
    assert a.store_rows() == b.store_rows()
    assert a.batch(3) == b.batch(3)


def test_docs_seeds_differ_with_equal_sizes():
    a, b = DocFeed(1, STORE, BATCH).batch(0), DocFeed(2, STORE, BATCH).batch(0)
    assert a.rows != b.rows
    assert [r[0] for r in a.rows] == [r[0] for r in b.rows]
    kinds = ("fresh", "exact", "repeat", "near", "passage")
    assert [len(a.ids(k)) for k in kinds] == [len(b.ids(k)) for k in kinds]


def test_doc_plants_have_their_shape():
    feed = DocFeed(5, STORE, BATCH)
    store = {t for _, t in feed.store_rows()}
    batch = feed.batch(0)
    text = dict(batch.rows)
    assert all(text[i] in store for i in batch.ids("exact"))
    fresh = {text[i] for i in batch.ids("fresh")}
    assert all(text[i] in fresh for i in batch.ids("repeat"))
    assert min(batch.ids("repeat")) > max(batch.ids("fresh"))  # smaller id wins
    store_toks = [set(t.split()) for t in store]
    for i in batch.ids("near"):
        assert text[i] not in store
        assert any(len(set(text[i].split()) ^ s) <= 2 for s in store_toks)
    assert not fresh & store
