"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical tables. The incremental pipeline base is drawn from a
fixed seed, so it can be seeded once per checkout; the workload seed
draws everything the timed run adds to it. The program under test only ever receives the
generated tables (as parquet read back through Spark) and the fake
enrichment fetch below.

Advisory inputs follow the reference data model (FIXTURES.md):
advisories ``(package_name, cve_id, fixed_version)`` and manual
overrides ``(cve_id, package, status, fixed_version,
internal_status)``. Overrides name their key with flipped case, so the
case-insensitive override match is exercised on every overridden key.

The registry tables mimic the star schema the registry entries read
(``region nation customer supplier part orders lineitem events
documents embeddings``), with the same column names and types.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Pipeline clocks: seeding run A at T0, seeding run B at T1, timed runs
# at T2. With a 24 h TTL, run A's cache entries are 30 h old at T2
# (expired) and run B's are 10 h old (fresh).
TTL_HOURS = 24.0
T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
T1 = T0 + timedelta(hours=20)
T2 = T1 + timedelta(hours=10)

# The incremental base is the same for every seed (it is seeded once per
# checkout and restored before every op); the seed draws the delta: the
# new keys, their overrides, and which keys change answer upstream.
BASE_SEED = 0
EXPIRED_SHARE = 0.10  # share of base keys first enriched by seeding run A
NEW_SHARE = 0.02  # new keys, as a share of base keys
OVERRIDE_SHARE = 0.05
DUP_ROW_SHARE = 0.01  # exact duplicate advisory rows (dropped by distinct)
CHANGED_SHARE = 0.30  # keys whose upstream answer changes after seeding

STATES = ("unknown", "pending_upstream", "fixed", "not_applicable", "will_not_fix")
CHANGE_TYPES = ("new", "status_changed", "blocked", "enriched_unchanged", "unchanged")
_N_PKG = 3000


def fetch_answer(
    cve_id: str, package: str, epoch: int, seed: int
) -> tuple[bool, str | None]:
    """Deterministic upstream answer ``(found, fixed_version)``.

    Uses ``zlib.crc32``, which is stable across processes; Python's
    ``hash()`` is salted per process, so Spark's Python workers would
    disagree with each other. At ``epoch`` 1 a seed-chosen share of keys
    moves to another answer class, so a timed run over a base seeded at
    epoch 0 sees status changes and blocked transitions.
    """
    h = zlib.crc32(f"{cve_id}|{package}".encode())
    cls = h % 10
    if epoch and zlib.crc32(f"{seed}|{cve_id}|{package}".encode()) % 100 < CHANGED_SHARE * 100:
        cls = (cls + 4) % 10
    if cls < 4:
        return True, f"{1 + (h >> 4) % 9}.{(h >> 12) % 50}.{(h >> 20) % 7}"
    if cls < 7:
        return True, None
    return False, None


def make_fetch(epoch: int, seed: int, now: datetime):
    """The enrichment function handed to ``UpstreamSource``."""

    def fetch(cve_id: str, package: str) -> dict:
        found, version = fetch_answer(cve_id, package, epoch, seed)
        return {
            "found": found,
            "upstream_fixed_version": version,
            "upstream_status": "analyzed" if found else None,
            "query_timestamp": now,
        }

    return fetch


@dataclass(frozen=True)
class AdvisoryInput:
    """Generated advisory keys and their roles, one array slot per
    distinct ``(cve_id, package)``: the base keys first, then the new
    keys."""

    cve: np.ndarray
    pkg: np.ndarray
    version: np.ndarray  # advisory fixed_version, None for no fix
    is_new: np.ndarray
    is_seed_a: np.ndarray
    is_override: np.ndarray
    dup_rows: np.ndarray  # indices of keys whose advisory row repeats

    def key_set(self) -> set[tuple[str, str]]:
        return set(zip(self.cve, self.pkg))

    def advisories(self, mask: np.ndarray) -> pa.Table:
        idx = np.flatnonzero(mask)
        idx = np.concatenate([idx, self.dup_rows[mask[self.dup_rows]]])
        return pa.table(
            {
                "package_name": pa.array(self.pkg[idx], pa.string()),
                "cve_id": pa.array(self.cve[idx], pa.string()),
                "fixed_version": pa.array(self.version[idx], pa.string()),
            }
        )

    def overrides(self, mask: np.ndarray) -> pa.Table:
        idx = np.flatnonzero(self.is_override & mask)
        n = len(idx)
        return pa.table(
            {
                "cve_id": pa.array([c.lower() for c in self.cve[idx]], pa.string()),
                "package": pa.array([p.upper() for p in self.pkg[idx]], pa.string()),
                "status": pa.array(["not_applicable"] * n, pa.string()),
                "fixed_version": pa.array([None] * n, pa.string()),
                "internal_status": pa.array(["not_applicable"] * n, pa.string()),
            }
        )

    def pending(self, fresh_mask: np.ndarray) -> int:
        """Keys a run must fetch: not overridden and not freshly cached."""
        return int(np.count_nonzero(~self.is_override & ~fresh_mask))


def _keys(rng, n: int, cve_lo: int, cve_hi: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``n`` distinct keys with CVE numbers in ``[cve_lo, cve_hi)``.
    Upper-case CVE ids and lower-case package names keep keys distinct
    under the case-insensitive override match."""
    span = (cve_hi - cve_lo) * _N_PKG
    codes = np.unique(rng.integers(0, span, size=int(n * 1.3) + 10))
    codes = rng.permutation(codes)[:n]
    cve_i, pkg_i = cve_lo + codes // _N_PKG, codes % _N_PKG
    cve = np.array([f"CVE-{1999 + c % 27}-{c:07d}" for c in cve_i], dtype=object)
    pkg = np.array([f"lib{p:04d}-{'abcdefgh'[p % 8]}" for p in pkg_i], dtype=object)
    version = np.array(
        [f"{1 + c % 9}.{p % 31}-{c % 5}" if (c + p) % 2 else None for c, p in zip(cve_i, pkg_i)],
        dtype=object,
    )
    return cve, pkg, version


def _exact(rng, n: int, share: float) -> np.ndarray:
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=round(n * share), replace=False)] = True
    return mask


def advisory_input(seed: int, n_base: int) -> AdvisoryInput:
    """Base keys from ``BASE_SEED`` plus a seed-drawn delta of new keys.
    Every share is an exact count, so each seed does the same amount of
    work."""
    n_cve = max(1, n_base // 2)
    base_rng = np.random.default_rng(BASE_SEED)
    b_cve, b_pkg, b_ver = _keys(base_rng, n_base, 0, n_cve)
    b_seed_a = _exact(base_rng, n_base, EXPIRED_SHARE)
    b_override = _exact(base_rng, n_base, OVERRIDE_SHARE)
    rng = np.random.default_rng(seed)
    n_new = round(n_base * NEW_SHARE)
    # new keys use CVE numbers above the base range, so they are new
    d_cve, d_pkg, d_ver = _keys(rng, n_new, n_cve, n_cve + max(1, n_new // 2))
    d_override = _exact(rng, n_new, OVERRIDE_SHARE)
    dup_rows = np.concatenate(
        [np.flatnonzero(_exact(base_rng, n_base, DUP_ROW_SHARE)),
         n_base + np.flatnonzero(_exact(rng, n_new, DUP_ROW_SHARE))]
    )
    return AdvisoryInput(
        cve=np.concatenate([b_cve, d_cve]),
        pkg=np.concatenate([b_pkg, d_pkg]),
        version=np.concatenate([b_ver, d_ver]),
        is_new=np.concatenate([np.zeros(n_base, bool), np.ones(n_new, bool)]),
        is_seed_a=np.concatenate([b_seed_a, np.zeros(n_new, bool)]),
        is_override=np.concatenate([b_override, d_override]),
        dup_rows=dup_rows,
    )


# --- registry star schema ---------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "large", "green", "shiny", "old", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "anvil", "gear", "nut", "pipe", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf`` (sf 1 ~ 6M
    lineitems, matching the row counts of the TPC-H-like star schema
    the registry's oracles are written against)."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(50, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord), pa.timestamp("us")),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    lines_per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per_order)
    n_li = len(l_order)
    line_no = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(line_no, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_li), pa.timestamp("us")),
        }
    )
    gaps = rng.exponential(26.0, n_ev) * 1e6
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_ev), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(20.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(src[: max(5, len(src) - 2)] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
