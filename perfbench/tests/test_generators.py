"""The benchmark's inputs are a pure function of the seed."""

from __future__ import annotations

import pyarrow.parquet as pq

from perfbench import fixture
from perfbench.ingestgen import Mix, Model, Traffic


def test_tables_are_deterministic_per_seed():
    a, b = fixture.build_tables(3, sf=0.01), fixture.build_tables(3, sf=0.01)
    assert a.keys() == b.keys() == set(fixture.TABLES)
    for name in fixture.TABLES:
        assert a[name].equals(b[name]), name
    c = fixture.build_tables(4, sf=0.01)
    assert not a["lineitem"].equals(c["lineitem"])


def test_tables_have_the_engine_fixture_shape():
    t = fixture.build_tables(0, sf=0.01)
    assert t["lineitem"].num_rows == 60_000
    assert t["orders"].num_rows == 15_000
    assert t["documents"].num_rows == fixture.DOCUMENTS
    docs = t["documents"].to_pydict()
    assert all(n == len(s) for n, s in zip(docs["n_chars"], docs["text"]))
    dups = sum(s.endswith(" dup") for s in docs["text"])
    assert 0.03 * fixture.DOCUMENTS < dups < 0.07 * fixture.DOCUMENTS
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"


def test_written_tables_round_trip(tmp_path):
    fixture.write_tables(str(tmp_path), seed=1, sf=0.001)
    for name in fixture.TABLES:
        assert pq.read_table(tmp_path / f"{name}.parquet").num_rows > 0


def _rounds(seed, n):
    t = Traffic(seed)
    return [t.next_round() for _ in range(n)]


def test_traffic_is_deterministic_per_seed():
    a, b = _rounds(7, 4), _rounds(7, 4)
    assert [r.__dict__ for r in a] == [r.__dict__ for r in b]
    c = _rounds(8, 4)
    assert [r.request_files for r in a] != [r.request_files for r in c]


def test_mix_varies_within_narrow_bands():
    mixes = [Mix.for_seed(s) for s in range(50)]
    assert len({m.records_per_file for m in mixes}) > 5
    assert len({m.late_share for m in mixes}) > 5
    for m in mixes:
        assert 190 <= m.records_per_file <= 210
        assert 0.1 <= m.late_share <= 0.3
        assert 0.9 <= m.zipf_s <= 1.2


def test_traffic_injects_every_fault_kind():
    rounds = _rounds(5, 6)
    model = Model()
    for r in rounds:
        model.land(r)
    assert model.bad_requests > 0 and model.bad_responses > 0
    assert any(n > 1 for n in model.request_deliveries.values())
    requested = {rec["transactionId"] for r in rounds[:3] for rec in r.requests}
    late = {resp["transactionId"] for r in rounds[1:] for resp in r.responses}
    assert requested & late, "some responses land after their round"


def test_every_round_has_exactly_one_cache_hit():
    """The cache is flushed every round, so hits are repeats within a
    round's searches: one per round, a 20% hit ratio for every seed."""
    for seed in range(20):
        t = Traffic(seed)
        for _ in range(10):
            keys = [tuple(sorted(f.items())) for f in t.next_round().searches]
            assert len(keys) == t.mix.searches_per_round
            assert len(set(keys)) == len(keys) - 1
            assert keys[-1] in keys[:-1]


def test_model_top_k_is_latest_first():
    model = Model()
    for r in _rounds(2, 3):
        model.land(r)
    rows = model.search({})
    assert len(rows) == 100
    assert rows == sorted(rows, key=lambda t: (t[5], t[0]), reverse=True)
