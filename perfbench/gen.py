"""Seeded input generators for the four workloads.

Everything here is pure numpy/pyarrow: no Spark, no engine imports, so the
determinism tests run without a JVM. The engine only ever sees what these
functions return. Sizes are module constants so that every seed produces
inputs of the same shape; the seed changes values and op order only.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

# --- op sequences ---------------------------------------------------------


@dataclass
class Op:
    kind: str
    params: dict = field(default_factory=dict)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so adding a stream never
    shifts the values another stream draws."""
    return np.random.default_rng([int(seed), *map(int, stream)])


def shuffled_kinds(shares: dict[str, int], rng: np.random.Generator) -> list[str]:
    """Exactly ``shares[k]`` ops of kind ``k``, in a seeded order."""
    kinds = [k for k, n in shares.items() for _ in range(n)]
    return [kinds[i] for i in rng.permutation(len(kinds))]


# --- scan_mix: lineitem-shaped table ---------------------------------------

SCAN_BASE_ROWS = 150_000          # one replica
SCAN_REPLICAS = 4                 # replicated with shifted l_orderkey
SCAN_KEY_SPAN = 600_000           # l_orderkey range of one replica
SCAN_DAYS = 2526                  # 1992-01-02 .. 1998-12-01
SCAN_EPOCH = dt.date(1992, 1, 2)
SCAN_MONTHS = 83                  # months touched by l_shipdate
SCAN_LOOKUP_KEYS = 24_000         # width of one l_orderkey range lookup
SCAN_SHARES = {"month_agg": 3, "key_lookup": 4, "full_agg": 3}
# two deletion-vector rounds applied in setup (predicates on the data)
SCAN_DV_PARTKEY_BELOW = 400       # round 1: l_partkey < 400 (~2%)
SCAN_DV_DISCOUNT = 7              # round 2: l_discount == 7 (~9%)

_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_MODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
_WORDS = np.array(["carefully", "final", "deposits", "quickly", "ironic",
                   "packages", "blithely", "express", "accounts", "regular"])


def lineitem(seed: int) -> pa.Table:
    """``SCAN_BASE_ROWS`` rows replicated ``SCAN_REPLICAS`` times, each
    replica's ``l_orderkey`` shifted by ``SCAN_KEY_SPAN``. Money columns
    are integer cents so every sum has one exact answer."""
    r = rng_for(seed, 1)
    n = SCAN_BASE_ROWS
    day = r.integers(0, SCAN_DAYS, n)
    base = {
        "l_orderkey": r.integers(0, SCAN_KEY_SPAN, n),
        "l_partkey": r.integers(1, 20_001, n),
        "l_suppkey": r.integers(1, 1_001, n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n),
        "l_extendedprice": r.integers(90_000, 10_500_000, n),
        "l_discount": r.integers(0, 11, n),
        "l_tax": r.integers(0, 9, n),
        "l_returnflag": _FLAGS[r.integers(0, 3, n)],
        "l_linestatus": _STATUS[r.integers(0, 2, n)],
        "l_shipdate": (np.datetime64(SCAN_EPOCH) + day.astype("timedelta64[D]")),
        "l_shipmode": _MODES[r.integers(0, len(_MODES), n)],
        "l_comment": np.char.add(np.char.add(_WORDS[r.integers(0, 10, n)], " "),
                                 _WORDS[r.integers(0, 10, n)]),
    }
    parts = []
    for rep in range(SCAN_REPLICAS):
        cols = dict(base)
        cols["l_orderkey"] = base["l_orderkey"] + rep * SCAN_KEY_SPAN
        parts.append(pa.table({k: pa.array(v) for k, v in cols.items()}))
    return pa.concat_tables(parts)


def month_start(m: int) -> dt.date:
    """First day of the ``m``-th month after 1992-01."""
    return dt.date(1992 + m // 12, 1 + m % 12, 1)


def scan_block(seed: int) -> list[Op]:
    """One block of ``sum(SCAN_SHARES)`` read-only ops; the run cycles it."""
    r = rng_for(seed, 2)
    ops = []
    for kind in shuffled_kinds(SCAN_SHARES, r):
        if kind == "month_agg":
            m0 = int(r.integers(0, SCAN_MONTHS - 3))
            ops.append(Op(kind, {"lo": month_start(m0), "hi": month_start(m0 + 3)}))
        elif kind == "key_lookup":
            k0 = int(r.integers(0, SCAN_REPLICAS * SCAN_KEY_SPAN - SCAN_LOOKUP_KEYS))
            ops.append(Op(kind, {"lo": k0, "hi": k0 + SCAN_LOOKUP_KEYS}))
        else:
            ops.append(Op(kind, {}))
    return ops


# --- ingest_cycle: rolling-window orders table ------------------------------

INGEST_LIVE = 150_000             # live keys, constant across cycles
INGEST_BATCH = 20_000             # keys appended and deleted per cycle
INGEST_UPSERT = 5_000             # keys upserted per cycle
INGEST_RECENT = 40_000            # upserts target the newest keys
INGEST_PERIOD = 3                 # cycles between maintenance rounds
INGEST_CYCLE = ("append", "read", "merge", "read", "delete", "read")
INGEST_MAINT = ("rewrite", "expire", "orphans")

_OSTATUS = np.array(["F", "O", "P"])
_PRIO = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def orders(seed: int, key_lo: int, n: int, stream: int) -> pa.Table:
    """Orders-shaped rows for keys ``[key_lo, key_lo + n)``."""
    r = rng_for(seed, 3, stream)
    return _orders_rows(r, np.arange(key_lo, key_lo + n, dtype=np.int64))


def _orders_rows(r: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(r.integers(1, 15_001, n)),
        "o_orderstatus": pa.array(_OSTATUS[r.integers(0, 3, n)]),
        "o_totalprice": pa.array(r.integers(100_000, 50_000_000, n)),
        "o_orderdate": pa.array(np.datetime64("1995-01-01")
                                + r.integers(0, 2400, n).astype("timedelta64[D]")),
        "o_orderpriority": pa.array(_PRIO[r.integers(0, 5, n)]),
        "o_comment": pa.array(np.char.add("order ", r.integers(0, 10**6, n).astype(str))),
    })


def upsert(seed: int, recent_hi: int, cycle: int) -> pa.Table:
    """``INGEST_UPSERT`` distinct existing keys among the newest
    ``INGEST_RECENT`` (all below ``recent_hi``), with fresh values."""
    r = rng_for(seed, 4, cycle)
    keys = np.sort(r.choice(INGEST_RECENT, INGEST_UPSERT, replace=False)) \
        + (recent_hi - INGEST_RECENT)
    return _orders_rows(r, keys.astype(np.int64))


def ingest_ops(first_cycle: int, cycles: int = INGEST_PERIOD) -> list[Op]:
    """Ops of ``cycles`` cycles from ``first_cycle`` on, then one
    maintenance round. Keys roll forward by ``INGEST_BATCH`` per cycle, so
    the live size never changes; every period has the same shape, only the
    key offsets move."""
    ops = []
    for c in range(first_cycle, first_cycle + cycles):
        lo = c * INGEST_BATCH                   # oldest live key
        hi = lo + INGEST_LIVE                   # first key of this batch
        for kind in INGEST_CYCLE:
            if kind == "append":
                ops.append(Op(kind, {"cycle": c, "key_lo": hi}))
            elif kind == "merge":
                ops.append(Op(kind, {"cycle": c, "recent_hi": hi + INGEST_BATCH}))
            elif kind == "delete":
                ops.append(Op(kind, {"cycle": c, "below": lo + INGEST_BATCH}))
            else:
                ops.append(Op(kind, {"cycle": c}))
    ops.extend(Op(kind, {"after_cycle": first_cycle + cycles - 1}) for kind in INGEST_MAINT)
    return ops


# --- plan_wide: synthetic manifest metadata ---------------------------------

PLAN_DAYS = 8                     # one commit (and manifest) per day
PLAN_FILES_PER_DAY = 2_000        # <= 2048: a one-day plan stays on the driver
PLAN_DAY0 = 19_000                # days since epoch of the first partition
PLAN_ID_MAX = 10**9
PLAN_FILE_ID_SPAN = 100_000       # each file covers [lo, lo + span) of id
# id_plan and df_agg cost about the same and swap order run to run; with
# these shares p50 sits at least 12 points inside one of their bands either way
PLAN_SHARES = {"day_plan": 2, "id_plan": 3, "df_agg": 3}
PLAN_DAY_ID_CUT = 500_000_000     # day_plan adds id < cut (about half the day)
PLAN_ID_WIDTH = 10_000_000        # id_plan range width (about 1% of files)
PLAN_DF_DAYS = 3                  # df_agg covers this many days


def plan_files(seed: int) -> dict[str, np.ndarray]:
    """Per-file id bounds for ``PLAN_DAYS * PLAN_FILES_PER_DAY`` fake files
    (never opened), grouped by day."""
    r = rng_for(seed, 5)
    n = PLAN_DAYS * PLAN_FILES_PER_DAY
    lo = r.integers(0, PLAN_ID_MAX - PLAN_FILE_ID_SPAN, n)
    return {
        "day": np.repeat(np.arange(PLAN_DAYS) + PLAN_DAY0, PLAN_FILES_PER_DAY),
        "lo": lo,
        "hi": lo + PLAN_FILE_ID_SPAN - 1,
        "records": r.integers(1_000, 100_000, n),
        "size": r.integers(1 << 20, 1 << 27, n),
    }


def plan_block(seed: int) -> list[Op]:
    r = rng_for(seed, 6)
    ops = []
    for kind in shuffled_kinds(PLAN_SHARES, r):
        if kind == "day_plan":
            ops.append(Op(kind, {"day": PLAN_DAY0 + int(r.integers(0, PLAN_DAYS)),
                                 "id_below": PLAN_DAY_ID_CUT}))
        elif kind == "id_plan":
            a = int(r.integers(0, PLAN_ID_MAX - PLAN_ID_WIDTH))
            ops.append(Op(kind, {"lo": a, "hi": a + PLAN_ID_WIDTH}))
        else:
            d0 = PLAN_DAY0 + int(r.integers(0, PLAN_DAYS - PLAN_DF_DAYS + 1))
            ops.append(Op(kind, {"day_lo": d0, "day_last": d0 + PLAN_DF_DAYS - 1}))
    return ops


# --- corpus_curate: documents for the LLM data pipeline ---------------------

CORPUS_DOCS = 5_000
CORPUS_HELDOUT = 250              # held-out slice (contamination reference)
CORPUS_BUCKETS = 16               # each op reads 12 of 16 buckets (a 3/4 shard)
CORPUS_SHARD_BUCKETS = 12
CORPUS_DUP_SHARE = 0.10           # exact duplicates of earlier train docs
CORPUS_LEAK_SHARE = 0.05          # train docs quoting a held-out doc
CORPUS_VOCAB = 3_000
CORPUS_BLOCK = 4                  # shards per block
CHUNK_CHARS = 200
CHUNK_OVERLAP = 50
CONTAM_N = 4


def corpus(seed: int) -> pa.Table:
    """``doc_id, bucket, split, text``. Train docs are random word
    sequences (no shared word 3-grams by construction of the vocabulary
    size), so the only near-duplicates are the planted exact copies."""
    r = rng_for(seed, 7)
    vocab = np.array([f"w{i:04d}" for i in range(CORPUS_VOCAB)])
    n = CORPUS_DOCS
    texts = [" ".join(vocab[r.integers(0, CORPUS_VOCAB, int(k))])
             for k in r.integers(40, 160, n)]
    split = np.array(["train"] * n, dtype=object)
    split[n - CORPUS_HELDOUT:] = "heldout"
    n_train = n - CORPUS_HELDOUT
    held = texts[n_train:]
    for i in r.choice(n_train, int(n_train * CORPUS_LEAK_SHARE), replace=False):
        src = held[int(r.integers(0, CORPUS_HELDOUT))].split()
        s = int(r.integers(0, len(src) - 6))
        texts[i] = texts[i] + " " + " ".join(src[s:s + 6])
    # copies come last, so every near-duplicate pair is an exact one
    for i in r.choice(np.arange(1, n_train), int(n_train * CORPUS_DUP_SHARE), replace=False):
        texts[i] = texts[int(r.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "bucket": pa.array(r.integers(0, CORPUS_BUCKETS, n).astype(np.int32)),
        "split": pa.array(split.astype(str)),
        "text": pa.array(texts),
    })


def corpus_block(seed: int) -> list[Op]:
    r = rng_for(seed, 8)
    return [Op("curate", {"buckets": tuple(sorted(int(b) for b in r.choice(
        CORPUS_BUCKETS, CORPUS_SHARD_BUCKETS, replace=False)))})
        for _ in range(CORPUS_BLOCK)]
