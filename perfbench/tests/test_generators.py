"""Generator determinism, exact op shares and the statistics rules.

Run with ``python3 -m pytest perfbench/tests -q`` (no Spark needed)."""

from collections import Counter

import pytest

import gen
import harness
from spans import Span, Tracer

BLOCKS = {
    "scan_mix": (gen.scan_block, gen.SCAN_SHARES),
    "plan_wide": (gen.plan_block, gen.PLAN_SHARES),
    "corpus_curate": (gen.corpus_block, {"curate": gen.CORPUS_BLOCK}),
}
TABLES = {
    "lineitem": lambda s: gen.lineitem(s),
    "orders": lambda s: gen.orders(s, 150_000, gen.INGEST_BATCH, stream=3),
    "upsert": lambda s: gen.upsert(s, 190_000, 2),
    "corpus": lambda s: gen.corpus(s),
}


@pytest.mark.parametrize("name", sorted(BLOCKS))
def test_same_seed_same_ops(name):
    block, _ = BLOCKS[name]
    assert block(7) == block(7)


@pytest.mark.parametrize("name", sorted(BLOCKS))
def test_other_seed_other_ops(name):
    block, _ = BLOCKS[name]
    assert block(7) != block(8)


@pytest.mark.parametrize("name", sorted(TABLES))
def test_same_seed_same_inputs(name):
    make = TABLES[name]
    assert make(3).equals(make(3))
    assert not make(3).equals(make(4))


def test_plan_files_deterministic():
    a, b, c = gen.plan_files(1), gen.plan_files(1), gen.plan_files(2)
    assert all((a[k] == b[k]).all() for k in a)
    assert not (a["lo"] == c["lo"]).all()


@pytest.mark.parametrize("name", sorted(BLOCKS))
@pytest.mark.parametrize("seed", [1, 2, 99])
def test_op_shares_exact(name, seed):
    block, shares = BLOCKS[name]
    assert Counter(op.kind for op in block(seed)) == Counter(shares)


def test_ingest_periods_are_stationary():
    """Every maintenance period has the same ops; keys roll forward by one
    batch per cycle, so the live key count never changes."""
    p0, p1 = gen.ingest_ops(1), gen.ingest_ops(1 + gen.INGEST_PERIOD)
    assert [o.kind for o in p0] == [o.kind for o in p1]
    counts = Counter(o.kind for o in p0)
    assert counts["append"] == counts["merge"] == counts["delete"] == gen.INGEST_PERIOD
    assert counts["read"] == 3 * gen.INGEST_PERIOD
    assert all(counts[k] == 1 for k in gen.INGEST_MAINT)
    for a, d in zip([o for o in p0 + p1 if o.kind == "append"],
                    [o for o in p0 + p1 if o.kind == "delete"]):
        assert a.params["key_lo"] + gen.INGEST_BATCH - d.params["below"] == gen.INGEST_LIVE


def test_upsert_hits_existing_recent_keys():
    t = gen.upsert(5, 190_000, 2)
    keys = t["o_orderkey"].to_pylist()
    assert len(set(keys)) == gen.INGEST_UPSERT
    assert min(keys) >= 190_000 - gen.INGEST_RECENT and max(keys) < 190_000


def test_corpus_duplicates_are_exact():
    t = gen.corpus(1).to_pydict()
    train = [x for x, s in zip(t["text"], t["split"]) if s == "train"]
    dups = len(train) - len(set(train))
    assert dups > 0.05 * len(train)


def test_p90_needs_ten_samples_beyond():
    p, beyond = harness.p90_or_none([float(i) for i in range(1, 101)])
    assert (p, beyond) == (90.0, 10)
    p, beyond = harness.p90_or_none([float(i) for i in range(1, 100)])
    assert p is None and beyond == 9


def test_kind_bands_cover_all_ops():
    recs = ([harness.OpRecord("fast", 0.1, True)] * 3
            + [harness.OpRecord("mid", 0.5, True)] * 4
            + [harness.OpRecord("slow", 0.9, True)] * 3)
    bands = harness.kind_bands(recs)
    assert list(bands) == ["fast", "mid", "slow"]
    assert bands["mid"]["share"] == [0.3, 0.7]
    assert harness.band_at(bands, 0.5) == ("mid", 0.2)


def test_self_time_subtracts_other_layers_only():
    tr = Tracer()
    tr.spans = [
        Span(0, "scan_build", 0.0, None, 0, None, end=10.0),
        Span(1, "plan", 1.0, 0, 0, None, end=4.0),
        Span(2, "plan.decode", 2.0, 1, 0, None, end=3.0),
        Span(3, "io.read", 5.0, 0, 0, None, end=6.0),
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(7.0)   # minus plan
    assert tr.self_time(tr.spans[1]) == pytest.approx(3.0)   # decode is plan's own


def test_harness_reports_every_declared_metric():
    """BENCHMARK.json lists the metrics; the harness computes each of them
    and the interaction map describes each per-layer one."""
    import json
    import os

    recs = [harness.OpRecord("x", 0.2, True, rows=10)]
    assert set(harness.end_to_end(recs, 1.0, 100.0)) == set(harness.declared("end_to_end"))
    layer = harness.per_layer(Tracer(), recs, 0.0, {}, {})
    assert set(layer) == set(harness.declared("per_layer"))
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "interactions.json")) as fh:
        assert set(json.load(fh)["per_layer"]) == set(layer)
