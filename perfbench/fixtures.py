"""Seeded input generators: the dashboard's order tables, the curation
corpus (a base corpus plus disjoint scaled copies) and the ingest
webhook schedule. The same seed always yields the same bytes."""

from __future__ import annotations

import datetime
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ order tables

N_NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DAY0 = datetime.date(1995, 1, 1)
N_DAYS = 2404  # through 2001-08-01


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, version="2.6")


def order_tables(out_dir: str, seed: int, n_customers: int = 15_000,
                 n_orders: int = 150_000) -> dict:
    """customer, orders, nation and region at the sf0.1 row counts. A
    few orders point at customer keys that do not exist, so the
    left join's 'Guest Customer' branch is exercised."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    }), os.path.join(out_dir, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))
    ck = np.arange(n_customers, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_customers), pa.int32()),
        "c_acctbal": rng.integers(-99_999, 999_999, n_customers) / 100.0,
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_customers)],
    }), os.path.join(out_dir, "customer.parquet"))
    days = rng.integers(0, N_DAYS, n_orders)
    dates = (np.datetime64(DAY0) + days.astype("timedelta64[D]")).astype(
        "datetime64[us]")
    _write(pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        # ~0.5% of orders reference a missing customer
        "o_custkey": rng.integers(0, int(n_customers * 1.005), n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": rng.integers(80_000, 50_000_000, n_orders) / 100.0,
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    }), os.path.join(out_dir, "orders.parquet"))
    return {"customers": n_customers, "orders": n_orders}


# ----------------------------------------------------------- curation corpus

SHIFT = 10_000_000  # key offset per copy; larger than every base key
VOCAB = (
    "a the data query spark stream batch table row column key value join "
    "group agg sort filter scan hash merge window order line part customer "
    "vector fast slow big small index shard"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DIM = 64
NEARDUP_COS = 0.8  # the sign-LSH near-duplicate regime
_TOKEN = re.compile(r"[A-Za-z0-9]+")


def base_documents(rng, n: int) -> list[tuple]:
    """(doc_id, text, lang, source) rows: random-vocabulary texts with
    planted near-duplicates (8%: a few words replaced) and exact
    duplicates (1%) of earlier documents."""
    rows: list[tuple] = []
    texts: list[list[str]] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.01:
            words = list(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.09:
            words = list(texts[int(rng.integers(0, i))])
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB),
                                                    int(rng.integers(8, 100)))]
        texts.append(words)
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        rows.append((i, " ".join(words), lang, f"src{i % N_SOURCES}"))
    return rows


def base_embeddings(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors (random directions, 10 labels) with planted
    near-duplicates: 5% are an earlier vector plus small noise."""
    vecs = rng.standard_normal((n, DIM))
    for i in range(10, n):
        if rng.random() < 0.05:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.15 * rng.standard_normal(DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n).astype(np.int32)
    return vecs.astype(np.float32), labels


def signed_permutation(rng, dim: int = DIM) -> tuple[np.ndarray, np.ndarray]:
    """An orthogonal map that is exact in floating point: permute the
    coordinates, then flip some signs."""
    return rng.permutation(dim), rng.choice(np.array([-1.0, 1.0], np.float32), dim)


def tag_text(text: str, c: int) -> str:
    """Suffix every token with the copy tag, so shingles never collide
    across copies."""
    if c == 0:
        return text
    return _TOKEN.sub(lambda m: m.group(0) + f"x{c}", text)


def check_disjoint(keys_per_copy: list[np.ndarray]) -> None:
    """The SHIFT invariant: base keys fit below SHIFT, so copy c's keys
    lie in [c*SHIFT, (c+1)*SHIFT) and no two copies share a key."""
    base = keys_per_copy[0]
    if len(base) and (base.min() < 0 or base.max() >= SHIFT):
        raise AssertionError(f"base keys outside [0, {SHIFT}): SHIFT too small")
    for c, keys in enumerate(keys_per_copy):
        if len(keys) and (keys.min() < c * SHIFT or keys.max() >= (c + 1) * SHIFT):
            raise AssertionError(f"copy {c} keys leave their SHIFT band")
    allk = np.concatenate(keys_per_copy)
    if len(np.unique(allk)) != len(allk):
        raise AssertionError("key collision across copies")


def check_no_cross_copy_neardup(copies: list[np.ndarray],
                                cos: float = NEARDUP_COS) -> float:
    """Assert that no vector is a near-duplicate (cosine >= ``cos``) of
    a vector in another copy; return the largest cross-copy cosine."""
    worst = -1.0
    for a in range(len(copies)):
        for b in range(a + 1, len(copies)):
            m = float((copies[a].astype(np.float64)
                       @ copies[b].astype(np.float64).T).max())
            worst = max(worst, m)
    if worst >= cos:
        raise AssertionError(
            f"cross-copy near-duplicate: cosine {worst:.3f} >= {cos}")
    return worst


def curation_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                    copies: int) -> dict:
    """documents and embeddings: ``copies`` disjoint copies of a seeded
    base corpus. Copy c shifts every key by c*SHIFT, tags every token
    and maps every vector through its own signed permutation, so
    cosines within a copy are the base's and copies are near-orthogonal
    to each other."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    docs = base_documents(rng, n_docs)
    vecs, labels = base_embeddings(rng, n_vecs)
    perms = [(np.arange(DIM), np.ones(DIM, np.float32))] + [
        signed_permutation(rng) for _ in range(1, copies)]

    doc_keys, vec_keys, vec_copies = [], [], []
    d_id, d_text, d_lang, d_src = [], [], [], []
    for c in range(copies):
        ids = np.array([r[0] for r in docs], np.int64) + c * SHIFT
        doc_keys.append(ids)
        d_id.extend(ids.tolist())
        d_text.extend(tag_text(r[1], c) for r in docs)
        d_lang.extend(r[2] for r in docs)
        d_src.extend(r[3] for r in docs)
        perm, sign = perms[c]
        vec_copies.append(vecs[:, perm] * sign)
        vec_keys.append(np.arange(n_vecs, dtype=np.int64) + c * SHIFT)
    check_disjoint(doc_keys)
    check_disjoint(vec_keys)
    worst = check_no_cross_copy_neardup(vec_copies) if copies > 1 else None

    _write(pa.table({
        "doc_id": pa.array(d_id, pa.int64()),
        "text": d_text,
        "lang": d_lang,
        "source": d_src,
        "n_chars": pa.array([len(t) for t in d_text], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    allv = np.concatenate(vec_copies)
    _write(pa.table({
        "vec_id": pa.array(np.concatenate(vec_keys)),
        "embedding": pa.array(list(allv), pa.list_(pa.float32())),
        "label": pa.array(np.tile(labels, copies), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"docs": len(d_id), "vecs": len(allv), "copies": copies,
            "max_cross_copy_cos": worst, "doc_ids": d_id}


def add_batches(doc_ids: list[int], seed: int, n_batches: int,
                size: int) -> list[list[int]]:
    """Disjoint seed-chosen document batches for the incremental index."""
    rng = np.random.default_rng([seed, 3])
    pick = rng.permutation(np.array(doc_ids, np.int64))[: n_batches * size]
    return [sorted(pick[i * size:(i + 1) * size].tolist())
            for i in range(n_batches)]


# ---------------------------------------------------------- webhook stream


class WebhookSchedule:
    """The ingest input: a fixed schedule of JSON-lines webhook files.

    The schedule -- how many files, when each is due, and how many
    creates, redeliveries, updates and non-order events each holds -- is
    a function of the seed alone. Which orders an update touches is
    chosen when the file is written, among orders whose latest version
    has already been merged (``committed``), because the merge resolves
    two versions of one key in the same micro-batch arbitrarily.
    """

    def __init__(self, seed: int, n_open: int, interval_s: float,
                 n_drain: int, events_per_file: int, n_tenants: int = 20):
        rng = np.random.default_rng([seed, 4])
        self.rng = np.random.default_rng([seed, 5])  # creates, others
        self.pick = np.random.default_rng([seed, 6])  # updates, redeliveries
        self.interval_s = interval_s
        skew = 0.8 + 0.8 * rng.random()  # Zipf-like tenant skew exponent
        w = 1.0 / np.arange(1, n_tenants + 1) ** skew
        self.tenant_p = w / w.sum()
        self.n_tenants = n_tenants
        self.files = []
        for i in range(n_open + n_drain):
            n = events_per_file
            n_upd = int(n * (0.10 + 0.10 * rng.random())) if i > 0 else 0
            n_red = int(n * 0.05 * rng.random())
            n_other = int(n * 0.03)
            self.files.append({
                "seq": i,
                "phase": "open" if i < n_open else "drain",
                "due": i * interval_s if i < n_open else None,
                "creates": n - n_upd - n_red - n_other,
                "updates": n_upd,
                "redeliveries": n_red,
                "others": n_other,
            })
        self.next_order = {}  # tenant -> next shopify order id
        self.latest = {}  # (tenant, order) -> (file seq, line)
        self.sent: list[str] = []  # every line sent, for redeliveries
        self.clock0 = datetime.datetime(2026, 1, 1)
        self.n_updates_skipped = 0

    def lines(self, f: dict, committed_seq: int) -> list[str]:
        """Render file ``f``; every file with a seq below
        ``committed_seq`` is already merged into silver."""
        rng, pick = self.rng, self.pick
        seq = f["seq"]
        rec = self.received_at(f).strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
        out = []
        for _ in range(f["creates"]):
            t = int(rng.choice(self.n_tenants, p=self.tenant_p)) + 1
            oid = self.next_order.get(t, 1)
            self.next_order[t] = oid + 1
            cents = int(rng.integers(100, 5_000_000))
            created = self.clock0 + datetime.timedelta(
                seconds=int(rng.integers(0, 86_400 * 30)))
            line = _webhook_line(t, "orders/create", f"c-{t}-{oid}", rec,
                                 oid, cents, created)
            self.latest[(t, oid)] = (seq, line)
            out.append(line)
        eligible = sorted(k for k, (s, _) in self.latest.items()
                          if s < committed_seq)
        n_upd = min(f["updates"], len(eligible))
        self.n_updates_skipped += f["updates"] - n_upd
        for j in pick.permutation(len(eligible))[:n_upd]:
            t, oid = eligible[int(j)]
            cents = int(pick.integers(100, 5_000_000))
            created = _created_of(self.latest[(t, oid)][1])
            line = _webhook_line(t, "orders/updated", f"u{seq}-{t}-{oid}",
                                 rec, oid, cents, created)
            self.latest[(t, oid)] = (seq, line)
            out.append(line)
        for _ in range(f["others"]):
            t = int(rng.choice(self.n_tenants, p=self.tenant_p)) + 1
            out.append(_other_line(t, f"x{seq}-{len(out)}", rec))
        pool = self.sent + out
        # too few merged keys to update: redeliver instead, so the file
        # keeps its scheduled size
        for _ in range(f["redeliveries"] + f["updates"] - n_upd):
            if pool:
                out.append(pool[int(pick.integers(0, len(pool)))])
        self.sent.extend(out)
        order = pick.permutation(len(out))
        return [out[int(i)] for i in order]

    def received_at(self, f: dict) -> datetime.datetime:
        """A file's event time: its due time on the schedule's own clock
        (drain files arrive one interval after the last open file)."""
        n_open = sum(1 for g in self.files if g["phase"] == "open")
        slot = f["seq"] if f["phase"] == "open" else n_open
        return self.clock0 + datetime.timedelta(seconds=slot * self.interval_s)


def _webhook_line(tenant, topic, hsh, received, oid, cents, created) -> str:
    payload = json.dumps({
        "id": oid,
        "total_price": f"{cents // 100}.{cents % 100:02d}",
        "currency": "USD",
        "created_at": created.strftime("%Y-%m-%d %H:%M:%S"),
    }, separators=(",", ":"))
    return json.dumps({
        "tenant_id": tenant, "topic": topic,
        "shop_domain": f"shop{tenant}.myshopify.example",
        "received_at": received, "delivery_hash": hsh,
        "raw_payload": payload,
    }, separators=(",", ":"))


def _other_line(tenant, hsh, received) -> str:
    return json.dumps({
        "tenant_id": tenant, "topic": "customers/create",
        "shop_domain": f"shop{tenant}.myshopify.example",
        "received_at": received, "delivery_hash": hsh,
        "raw_payload": "{\"id\":1}",
    }, separators=(",", ":"))


def _created_of(line: str) -> datetime.datetime:
    p = json.loads(json.loads(line)["raw_payload"])
    return datetime.datetime.strptime(p["created_at"], "%Y-%m-%d %H:%M:%S")
