"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory and writes files only;
the engine sees nothing but those files. The same seed gives byte-identical
files (no wall clock, no ``os.urandom``; parquet is written with fixed
writer options).

  songstreams  -> deflate Avro container part files (written here, block by
                  block, from numpy columns -- never collected to a driver)
  tpch_tables  -> the relational tables the analytics queries read
  corpus       -> a documents table with planted curation structure, plus
                  the ground truth (per-stage survivor counts, the packed
                  output) the curation checks compare against
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- parquet


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", write_statistics=True)


# -------------------------------------------------------------------- avro

SONG_SCHEMA = {
    "type": "record",
    "name": "songstream",
    "fields": [
        {"name": "user_id", "type": "long"},
        {"name": "song_id", "type": "long"},
        {"name": "timestamp", "type": "long"},
        {"name": "ms_played", "type": "int"},
        {"name": "country", "type": "string"},
    ],
}
COUNTRIES = [
    "US", "GB", "SE", "DE", "FR", "BR", "MX", "JP", "IN", "ES",
    "IT", "NL", "PL", "CA", "AU", "AR", "TR", "ID", "PH", "NO",
]


def _varint_u(z: np.ndarray, k: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Unsigned LEB128 groups of uint64 values: (N, 10) bytes and a
    (N, 10) mask of the bytes each value actually uses."""
    groups = np.empty((len(z), 10), np.uint8)
    for i in range(10):
        groups[:, i] = ((z >> np.uint64(7 * i)) & np.uint64(0x7F)).astype(np.uint8)
    if k is None:
        k = np.ones(len(z), np.int64)
        for i in range(1, 10):
            k += (z >> np.uint64(7 * i)) != 0
    used = np.arange(10)[None, :] < k[:, None]
    cont = np.arange(10)[None, :] < (k - 1)[:, None]
    groups[cont] |= 0x80
    return groups, used


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).view(np.uint64)


def _write_long(out: bytearray, v: int) -> None:
    z = (v << 1) ^ (v >> 63)
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)


def write_avro_part(
    path: str, cols: dict[str, np.ndarray], seed: int, block_records: int = 16384
) -> int:
    """Write one deflate Avro container of songstream records, encoded
    column-wise with numpy. The sync marker derives from the seed."""
    n = len(cols["user_id"])
    pieces, masks = [], []
    for name in ("user_id", "song_id", "timestamp", "ms_played"):
        g, m = _varint_u(_zigzag(cols[name]))
        pieces.append(g)
        masks.append(m)
    # country: 2-byte ASCII string -> length varint 2 (zigzag 4) + 2 bytes
    cc = np.frombuffer("".join(COUNTRIES).encode(), np.uint8).reshape(-1, 2)
    cb = np.empty((n, 3), np.uint8)
    cb[:, 0] = 4
    cb[:, 1:] = cc[cols["country"]]
    pieces.append(cb)
    masks.append(np.ones((n, 3), bool))
    mat = np.hstack(pieces)
    mask = np.hstack(masks)
    flat = mat[mask].tobytes()
    ends = np.cumsum(mask.sum(axis=1))

    sync = hashlib.md5(f"sync:{seed}:{os.path.basename(path)}".encode()).digest()
    meta = bytearray()
    _write_long(meta, 2)
    for k, v in (
        ("avro.schema", json.dumps(SONG_SCHEMA).encode()),
        ("avro.codec", b"deflate"),
    ):
        _write_long(meta, len(k))
        meta += k.encode()
        _write_long(meta, len(v))
        meta += v
    _write_long(meta, 0)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"Obj\x01" + bytes(meta) + sync)
        start = 0
        for lo in range(0, n, block_records):
            hi = min(n, lo + block_records)
            end = int(ends[hi - 1])
            c = zlib.compressobj(1, zlib.DEFLATED, -15)
            payload = c.compress(flat[start:end]) + c.flush()
            head = bytearray()
            _write_long(head, hi - lo)
            _write_long(head, len(payload))
            f.write(bytes(head) + payload + sync)
            start = end
    return n


def songstreams(
    out_dir: str, seed: int, n_rows: int, n_parts: int, n_users: int = 1_000_000
) -> dict:
    """songstreams-shaped Avro part files. ``user_id`` is Zipf-skewed
    (s=1.1) over ``n_users`` users, so the token-ring buckets are uneven.
    Returns the file list and the per-column checksums the output check
    compares against."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    p = ranks ** -1.1
    cdf = np.cumsum(p / p.sum())
    users = np.searchsorted(cdf, rng.random(n_rows), side="right")
    users = np.minimum(users, n_users - 1)
    # popular ranks land on scattered ids, not 0, 1, 2, ...
    user_ids = (users.astype(np.int64) * 2654435761 + seed) % (1 << 40)
    cols = {
        "user_id": user_ids,
        "song_id": rng.integers(0, 5_000_000, n_rows, dtype=np.int64),
        "timestamp": 1_700_000_000_000 + np.sort(rng.integers(0, 30 * 86_400_000, n_rows)),
        "ms_played": rng.integers(1_000, 600_000, n_rows, dtype=np.int64),
        "country": rng.integers(0, len(COUNTRIES), n_rows),
    }
    paths = []
    bounds = np.linspace(0, n_rows, n_parts + 1).astype(int)
    for i in range(n_parts):
        part = {k: v[bounds[i] : bounds[i + 1]] for k, v in cols.items()}
        path = os.path.join(out_dir, f"part-{i:05d}.avro")
        write_avro_part(path, part, seed)
        paths.append(path)
    return {
        "paths": paths,
        "rows": n_rows,
        "bytes": sum(os.path.getsize(x) for x in paths),
        "user_id_sum": int(user_ids.sum()),
    }


# ------------------------------------------------------------- relational


def _ts_us(days: np.ndarray, base: str) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def tpch_tables(
    out_dir: str, seed: int, golden_tokens: str, scale: float = 0.1, only: set[str] | None = None
) -> dict:
    """The TPC-H-shaped tables (plus ``events``) the analytics queries read,
    at ``scale`` (0.1 = 600k lineitems); ``only`` limits which are written.
    Lineitem keys are drawn from the golden-token fixture so the bulk-route
    oracle covers every row."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_ord = int(150_000 * scale), int(10_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(rng.integers(-99999, 1000000, n_cust) / 100.0),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(rng.integers(-99999, 1000000, n_supp) / 100.0),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(rng.integers(100000, 50000000, n_ord) / 100.0),
            "o_orderdate": _ts_us(rng.integers(0, 2404, n_ord), "1995-01-01"),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
        }
    )
    gold = pq.read_table(golden_tokens, columns=["l_orderkey", "l_linenumber"])
    gk = gold.column("l_orderkey").to_numpy()
    keep = gk < n_ord
    gk, gl = gk[keep], gold.column("l_linenumber").to_numpy()[keep]
    pick = np.sort(rng.integers(0, len(gk), n_line))
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(gk[pick].astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(gl[pick].astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(rng.integers(90000, 10500000, n_line) / 100.0),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts_us(rng.integers(1, 2499, n_line), "1995-01-01"),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, n_ev, dtype=np.int64)),
            "event_type": pa.array(
                np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)]
            ),
            "value": pa.array(rng.integers(0, 56022, n_ev) / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    tables = {k: t for k, t in tables.items() if only is None or k in only}
    for name, t in tables.items():
        _write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "dir": out_dir,
        "rows": {k: t.num_rows for k, t in tables.items()},
        "bytes": sum(os.path.getsize(os.path.join(out_dir, f"{k}.parquet")) for k in tables),
    }


# ------------------------------------------------------------------ corpus

# The engine's md5 minhash family (plans/llm.py): 16 hashes, (a*g1 + b*g2 +
# c) mod P over the two 30-bit chunks of each shingle's md5. The generator
# replays it so every planted near-duplicate is one the LSH stage must find.
_MH_P, _MH_G, _N_HASHES = 2147483647, 1073741824, 16
_mh_rnd = random.Random(7)
_MH_ABC = [
    (_mh_rnd.randrange(1, _MH_G), _mh_rnd.randrange(1, _MH_G), _mh_rnd.randrange(0, _MH_P))
    for _ in range(_N_HASHES)
]
PACK_BUDGET = 256  # tokens per packed sequence (plans/pipeline.py)


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def is_bench(doc_id: int) -> bool:
    """The engine's benchmark-doc marker: hash60('bench:<id>') % 20 == 0."""
    return _hash60(f"bench:{doc_id}") % 20 == 0


def _shingles(words: list[str]) -> set[str]:
    return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}


def _signature(words: list[str]) -> tuple[int, ...]:
    gs = []
    for s in _shingles(words):
        hx = hashlib.md5(s.encode()).hexdigest()
        gs.append(((int(hx[:15], 16) >> 28) % _MH_G, int(hx[8:16], 16) % _MH_G))
    return tuple(min((a * g1 + b * g2 + c) % _MH_P for g1, g2 in gs) for a, b, c in _MH_ABC)


def _vocab(n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    for i in range(n):
        w, j = "", i
        while True:
            w += letters[j % 26]
            j //= 26
            if j == 0:
                break
        out.append("w" + w)
    return out


def corpus(
    n_docs: int,
    seed: int,
    words_per_doc: int = 40,
    vocab: int = 20_000,
    frac_lowq: float = 0.03,
    frac_exact: float = 0.05,
    frac_near: float = 0.06,
    frac_bench_copy: float = 0.03,
) -> dict:
    """A curation corpus with planted structure, in doc_id order.

    Roles (over non-benchmark ids; benchmark ids keep fresh text):
      lowq       3-word or one-word-repeated docs (fail the quality gate)
      exact      a copy of an earlier fresh doc's text
      near       the source doc with one word swapped -- accepted only
                 when its minhash signature equals the source's, so the
                 LSH stage finds it under any band layout
      bench_copy a copy of a benchmark doc's text (fails decontamination)

    Returns the rows plus the survivor count of every curation stage and
    the expected packed output (doc_id, n_tokens, start_offset, seq_id).
    """
    rng = random.Random(seed * 7919 + n_docs)
    words = _vocab(vocab)
    texts: list[list[str]] = [
        [words[rng.randrange(vocab)] for _ in range(words_per_doc)] for _ in range(n_docs)
    ]
    bench = [is_bench(i) for i in range(n_docs)]
    free = [i for i in range(n_docs) if not bench[i]]
    rng.shuffle(free)
    take = lambda frac: [free.pop() for _ in range(int(frac * n_docs))]  # noqa: E731
    lowq, exact, near, bcopy = take(frac_lowq), take(frac_exact), take(frac_near), take(frac_bench_copy)
    role = {}
    for r, ids in (("lowq", lowq), ("exact", exact), ("near", near), ("bcopy", bcopy)):
        for i in ids:
            role[i] = r
    sources = sorted(free)  # untouched fresh docs
    rng.shuffle(sources)
    for i in lowq:
        if rng.random() < 0.5:
            texts[i] = [words[rng.randrange(vocab)] for _ in range(3)]
        else:
            w = words[rng.randrange(vocab)]
            texts[i] = [w] * (words_per_doc - 2) + [words[rng.randrange(vocab)] for _ in range(2)]
    exact_src = [sources.pop() for _ in exact]
    for i, s in zip(exact, exact_src):
        texts[i] = list(texts[s])
    family: dict[int, int] = {}
    s, variants, sig = -1, [], None
    for i in near:
        v = None
        while v is None:
            # families of up to three variants share one source
            if s < 0 or len(variants) == 3 or rng.random() < 0.6:
                s, variants = sources.pop(), []
                sig = _signature(texts[s])
            for _ in range(32):
                cand = list(texts[s])
                cand[rng.randrange(len(cand))] = words[rng.randrange(vocab)]
                if cand != texts[s] and cand not in variants and _signature(cand) == sig:
                    v = cand
                    break
            else:
                s = -1  # this source has no cheap variant: start a new family
        family[i] = s
        texts[i] = v
        variants.append(v)
    bench_ids = [i for i in range(n_docs) if bench[i]]
    rng.shuffle(bench_ids)
    for i, b in zip(bcopy, bench_ids):
        texts[i] = list(texts[b])

    # ground truth, stage by stage, with the engine's semantics
    base = [i for i in range(n_docs) if not bench[i]]
    q = [i for i in base if len(texts[i]) >= 5 and len(set(texts[i])) / len(texts[i]) >= 0.3]
    first: dict[str, int] = {}
    for i in q:
        first.setdefault(" ".join(texts[i]), i)
    deduped = sorted(first.values())
    dset = set(deduped)
    comp = {}
    for i, s in family.items():
        if i in dset and s in dset:
            comp.setdefault(s, [s]).append(i)
    losers = {j for members in comp.values() for j in members if j != min(members)}
    nd = [i for i in deduped if i not in losers]
    bench_sh = set().union(*(_shingles(texts[b]) for b in bench_ids)) if bench_ids else set()
    clean = []
    for i in nd:
        sh = _shingles(texts[i])
        if not sh or len(sh & bench_sh) / len(sh) < 0.5:
            clean.append(i)
    n_tok = np.array([len(texts[i]) for i in clean], np.int64)
    start = np.concatenate([[0], np.cumsum(n_tok)[:-1]]) if len(clean) else np.zeros(0, np.int64)
    langs = ["en", "de", "es", "fr", "zh"]
    text_s = [" ".join(t) for t in texts]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(text_s),
            "lang": pa.array([langs[i % 5] for i in range(n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in text_s], pa.int64()),
        }
    )
    return {
        "table": table,
        "bench_shingles": sorted(bench_sh),
        "stages": {
            "base": len(base),
            "q": len(q),
            "deduped": len(deduped),
            "nd": len(nd),
            "clean": len(clean),
        },
        "packed": list(zip(clean, n_tok.tolist(), start.tolist(), (start // PACK_BUDGET).tolist())),
    }


def write_corpus(out_dir: str, c: dict) -> str:
    path = os.path.join(out_dir, "documents.parquet")
    _write_parquet(c["table"], path)
    return path
