import datetime as dt
import json
import os

import pytest

import lakes
import measure


@pytest.mark.parametrize("kind", ["event", "raw", "registry"])
def test_same_seed_same_content_other_seed_differs(tmp_path, kind):
    a = lakes.lake(str(tmp_path / "a"), kind, 7, size="tiny")
    b = lakes.lake(str(tmp_path / "b"), kind, 7, size="tiny")
    c = lakes.lake(str(tmp_path / "c"), kind, 8, size="tiny")
    assert lakes.content_hash(a) == lakes.content_hash(b)
    assert lakes.content_hash(a) != lakes.content_hash(c)


def test_event_lake_is_time_ordered_and_windowed(tmp_path):
    import pyarrow.parquet as pq

    root = lakes.lake(str(tmp_path), "event", 3, size="tiny")
    t = pq.read_table(f"{root}/events.parquet")
    ts = t.column("ts").to_pylist()
    assert ts == sorted(ts)
    days = {x.date() for x in ts}
    assert min(days) == lakes.END_DATE - dt.timedelta(days=lakes.DAYS["event"] - 1)
    assert max(days) <= lakes.END_DATE
    assert lakes.input_rows(root) == lakes.SIZES["tiny"]["events"] + 25


def test_registry_lake_has_the_measured_sf01_shape(tmp_path):
    """At the testdata's size, a generated lake reproduces the shape
    measured on sf0.1, q69's contact graph included."""
    with open(os.path.join(os.path.dirname(lakes.__file__), "sf01_shape.json")) as f:
        want = json.load(f)
    got = measure.shape(lakes.lake(str(tmp_path), "registry", 1, size="sf0.1"))
    for key in ("events", "users", "days", "keys"):
        assert got[key] == want[key], key
    for t, share in want["event_type_share"].items():
        assert got["event_type_share"][t] == pytest.approx(share, abs=0.01)
    assert got["events_per_user"]["median"] == pytest.approx(
        want["events_per_user"]["median"], rel=0.05)
    assert got["top10pct_users_event_share"] == pytest.approx(
        want["top10pct_users_event_share"], abs=0.01)
    for stat in ("mean", "sd", "median"):
        assert got["value"][stat] == pytest.approx(want["value"][stat], rel=0.03)
    for key in ("q69_distinct_key_user", "q69_pair_fanout", "q69_distinct_user_pairs"):
        assert got[key] == pytest.approx(want[key], rel=0.03), key
    emb, want_emb = got["embeddings"], want["embeddings"]
    assert (emb["vectors"], emb["dim"], emb["labels"]) == (
        want_emb["vectors"], want_emb["dim"], want_emb["labels"])
    assert emb["norm"] == pytest.approx(want_emb["norm"], abs=1e-3)
    assert emb["max_label_center_norm"] < 0.1
