"""Seeded input generators for the pipeline benchmark.

Every generator takes the seed as an argument and writes files only; the
program under test receives nothing but those files.  The same seed gives
byte-identical files (gzip headers carry mtime 0, parquet is written by
pyarrow with fixed options).  Each generator also returns the *planted*
facts the output checks compare against (distinct decisions, reward mass,
invalid lines by reason), computed here from the generator's own state,
never from the program's output.

Nothing here imports the package: KSUIDs are encoded with the public
segmentio layout (4-byte seconds since 1400000000 + 16 payload bytes,
27 base62 characters).
"""

from __future__ import annotations

import gzip
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KSUID_EPOCH = 1_400_000_000
_B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

# Decision time base: 2023-11-15 00:00:00 UTC, fixed in the past so the
# program's future-KSUID guard never drops a planted record.
BASE_TS = 1_700_006_400
DAY = 86_400
MODELS = ("m-alpha", "m-beta")
DAYS_PER_FILE = 5       # dt partitions per model that one file's decisions span
REWARD_SHARE = 0.2      # of each file's lines
LATE_SHARE = 0.1        # of an odd file's rewards: for the previous file
DUP_SHARE = 0.03        # of the rewards: written twice
CANDIDATES_PER_DECISION = 5

# invalid_record_histogram's reasons, each planted at least once per drain
INVALID_REASONS = (
    "unparseable",
    "invalid message_id",
    "invalid model",
    "invalid count",
    "invalid count of 1 with sample",
    "invalid decision_id",
    "invalid reward",
)


def ksuid(ts: int, payload: int) -> str:
    """27-char base62 KSUID from unix seconds and a 128-bit payload."""
    n = ((ts - KSUID_EPOCH) << 128) | (payload & ((1 << 128) - 1))
    out = []
    for _ in range(27):
        n, r = divmod(n, 62)
        out.append(_B62[r])
    return "".join(reversed(out))


def _gzip_lines(path: str, lines: list[str]) -> None:
    with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, mtime=0) as gz:
        gz.write(("\n".join(lines) + "\n").encode())


# ------------------------------------------------------------ track stream

@dataclass
class TrackStream:
    """What a drain of the generated files must produce."""
    files: list[str]
    records: int                      # JSONL lines written, invalid included
    decisions: int                    # distinct valid decisions
    reward_mass: float                # sum over distinct reward message_ids
    invalid: dict[str, int]           # planted invalid lines by reason
    late_partitions: set = field(default_factory=set)  # (model, dt) dirtied


def _item(rng: random.Random) -> dict:
    return {"song": rng.choice("abcdef"), "tempo": 60 + rng.randrange(120)}


def _context(rng: random.Random) -> dict:
    return {"os": rng.choice(("ios", "android", "web")),
            "hour": rng.randrange(24)}


def _invalid_line(reason: str, rng: random.Random, ts: int) -> str:
    good = ksuid(ts, rng.getrandbits(128))
    if reason == "unparseable":
        return '{"message_id": "' + good + '", "model": '
    if reason == "invalid message_id":
        rec = {"message_id": "not-a-ksuid", "model": MODELS[0], "count": 2,
               "item": {"x": 1}, "context": {}}
    elif reason == "invalid model":
        rec = {"message_id": good, "model": "-bad model-", "count": 2,
               "item": {"x": 1}, "context": {}}
    elif reason == "invalid count":
        rec = {"message_id": good, "model": MODELS[0], "count": 0,
               "item": {"x": 1}, "context": {}}
    elif reason == "invalid count of 1 with sample":
        rec = {"message_id": good, "model": MODELS[0], "count": 1,
               "item": {"x": 1}, "context": {}, "sample": {"x": 2}}
    elif reason == "invalid decision_id":
        rec = {"message_id": good, "model": MODELS[0],
               "decision_id": "short", "reward": 1.0}
    else:  # invalid reward: a string is not numeric
        rec = {"message_id": good, "model": MODELS[0],
               "decision_id": ksuid(ts, rng.getrandbits(128)), "reward": "1"}
    return json.dumps(rec)


def track_stream(out_dir: str, seed: int, n_files: int,
                 records_per_file: int = 10_000, invalid_per_file: int = 3,
                 first_day: int = 0) -> TrackStream:
    """Gzipped JSONL Firehose files, one per micro-batch.

    File ``f`` holds decisions spread evenly over days ``first_day +
    DAYS_PER_FILE * f`` onwards (so the drain spans ``DAYS_PER_FILE *
    n_files`` dt partitions per model) plus rewards.  On odd files a
    ``LATE_SHARE`` of the rewards point at decisions from the previous
    file's last day: they land as partial rows in an already-written
    partition, which only groom repairs, and they dirty only that day's
    partitions.  ``DUP_SHARE`` of the rewards are written twice with the
    same message_id and value.  ``invalid_per_file`` lines per file cover
    the histogram reasons in rotation.  Rewards favour decisions with
    ``context.os == "ios"``, and are larger there: a context signal for
    the decision model to fit.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    files, mass = [], 0.0
    decisions = 0
    invalid = {r: 0 for r in INVALID_REASONS}
    late_parts: set = set()
    prev_last: list[tuple] = []   # (decision_id, model, day, is_ios)
    prev_last_ios: list[tuple] = []
    reason_i = 0
    for f in range(n_files):
        day0 = first_day + DAYS_PER_FILE * f
        n_inv = invalid_per_file
        n_rew = int(records_per_file * REWARD_SHARE)
        n_dup = int(n_rew * DUP_SHARE)
        n_dec = records_per_file - n_rew - n_inv
        n_rew -= n_dup  # duplicates are extra lines of the same reward
        per_day = -(-n_dec // DAYS_PER_FILE)
        lines: list[str] = []
        cur: list[tuple] = []
        for i in range(n_dec):
            day = day0 + i % DAYS_PER_FILE
            ts = BASE_TS + day * DAY + (i // DAYS_PER_FILE * (DAY - 1)) // per_day
            did = ksuid(ts, rng.getrandbits(128))
            model = MODELS[rng.getrandbits(1)]
            count = 1 + rng.randrange(4)
            rec = {"message_id": did, "model": model, "count": count,
                   "item": _item(rng), "context": _context(rng)}
            if count > 1 and rng.random() < 0.5:
                rec["sample"] = _item(rng)
            lines.append(json.dumps(rec))
            cur.append((did, model, day, rec["context"]["os"] == "ios"))
        decisions += n_dec
        cur_ios = [d for d in cur if d[3]]
        # rewards arrive at the end of their file's last day
        t_end = BASE_TS + (day0 + DAYS_PER_FILE) * DAY - 1
        rewards = []
        for i in range(n_rew):
            late = f % 2 == 1 and prev_last and rng.random() < LATE_SHARE
            # the planted signal: most rewards, and the larger ones, go to
            # decisions made in an ios context
            pool = (prev_last_ios, prev_last) if late else (cur_ios, cur)
            did, model, dday, ios = rng.choice(
                pool[0] if pool[0] and rng.random() < 0.7 else pool[1])
            if late:
                late_parts.add((model, dday))
            value = float(4 + rng.randrange(2) if ios else 1)
            rec = {"message_id": ksuid(t_end, rng.getrandbits(128)),
                   "model": model, "decision_id": did, "reward": value}
            rewards.append(json.dumps(rec))
            mass += value
        rewards += rng.sample(rewards, n_dup)
        lines += rewards
        for _ in range(n_inv):
            reason = INVALID_REASONS[reason_i % len(INVALID_REASONS)]
            reason_i += 1
            invalid[reason] += 1
            lines.append(_invalid_line(reason, rng, BASE_TS + day0 * DAY))
        rng.shuffle(lines)
        path = os.path.join(out_dir, f"batch-{f:04d}.jsonl.gz")
        _gzip_lines(path, lines)
        files.append(path)
        last = day0 + DAYS_PER_FILE - 1
        prev_last = [d for d in cur if d[2] == last]
        prev_last_ios = [d for d in prev_last if d[3]]
    return TrackStream(files=files, records=n_files * records_per_file,
                       decisions=decisions, reward_mass=mass,
                       invalid=invalid, late_partitions=late_parts)


# ------------------------------------------------------------ tables

def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def events_table(path: str, seed: int, n: int) -> None:
    """``events`` with the testdata schema: 30 days of January 2024,
    five event types, ``props`` = ``{"k": <int>}``."""
    rng = np.random.default_rng(seed)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * DAY * 1_000_000
    ts = ts0 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    user = rng.integers(0, 150, n)
    types = np.array(["view", "click", "signup", "error", "purchase"])
    et = types[rng.integers(0, 5, n)]
    value = np.round(rng.uniform(0, 500, n), 2)
    k = rng.integers(0, 100, n)
    props = np.array([f'{{"k": {int(x)}}}' for x in k], dtype=object)
    _write(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(et.astype(object), pa.string()),
        "value": pa.array(value),
        "props": pa.array(props, pa.string()),
    }), path)


_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_PART_ADJ = ("small", "red", "blue", "hot", "cold", "big", "green", "old")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "spring")


def registry_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict:
    """The ten registry tables with the testdata schemas, at ``scale``
    (1.0 = 6M lineitems).  Returns ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 10)
    n_ev = max(int(1_000_000 * scale), 10)
    n_doc = max(int(50_000 * scale), 20)
    n_emb = n_doc
    s = lambda a: pa.array(a.astype(object), pa.string())  # noqa: E731
    rows = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"])})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": s(segs[rng.integers(0, 5, n_cust)]),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pkeys % 1000) * 0.1, 2)
    names = np.array([f"{a} {n}" for a in _PART_ADJ for n in _PART_NOUN])
    ptypes = np.array(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "STANDARD",
                       "PROMO"])
    put("part", {
        "p_partkey": pa.array(pkeys),
        "p_name": s(names[rng.integers(0, len(names), n_part)]),
        "p_brand": s(np.array([f"Brand#{i}" for i in
                               rng.integers(1, 26, n_part)])),
        "p_type": s(ptypes[rng.integers(0, len(ptypes), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price),
    })
    d0 = np.datetime64("1995-01-01", "D")
    odate = d0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": s(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1e3, 5e5, n_ord), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": s(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"])
                             [rng.integers(0, 5, n_ord)]),
    })
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(per) - per, per) + 1)
    n_li = len(okey)
    lpart = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(lpart),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[lpart], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": s(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": s(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            (np.repeat(odate, per) + rng.integers(1, 120, n_li)
             .astype("timedelta64[D]")).astype("datetime64[us]"),
            pa.timestamp("us")),
    })
    events_table(os.path.join(out_dir, "events.parquet"), seed + 1, n_ev)
    rows["events"] = n_ev
    # documents: random word bags plus near-dup families (a copy of an
    # earlier document with a few tokens replaced), so the LSH graph and
    # the text Jaccard have real edges
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.25:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(1 + len(toks) // 20):
                toks[int(rng.integers(0, len(toks)))] = _WORDS[
                    int(rng.integers(0, len(_WORDS)))]
        else:
            toks = [_WORDS[j] for j in
                    rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    langs = np.array(["en", "de", "fr", "es", "zh"])
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": s(langs[rng.integers(0, 5, n_doc)]),
        "source": s(np.array([f"src{i}" for i in
                              rng.integers(0, 20, n_doc)])),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
    # embeddings: unit vectors; a quarter are perturbed copies of an
    # earlier vector, giving the cosine buckets real near-dup pairs
    vecs = rng.normal(size=(n_emb, 64))
    for i in range(10, n_emb):
        if rng.random() < 0.25:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(
                scale=0.6, size=64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    return rows


def candidates(path: str, seed: int, n_decisions: int) -> int:
    """Scoring candidates shaped like the track records:
    ``CANDIDATES_PER_DECISION`` distinct items for each of ``n_decisions`` decisions sharing one
    context, written as parquet (decision_id, item, context) with
    canonical (sorted-key) JSON.  Returns the row count."""
    rng = random.Random(seed)
    dids, items, ctxs = [], [], []
    for d in range(n_decisions):
        ctx = json.dumps(_context(rng), sort_keys=True)
        seen: set = set()
        while len(seen) < CANDIDATES_PER_DECISION:
            seen.add(json.dumps(_item(rng), sort_keys=True))
        for item in sorted(seen):
            dids.append(f"cand-{d:07d}")
            items.append(item)
            ctxs.append(ctx)
    _write(pa.table({"decision_id": pa.array(dids),
                     "item": pa.array(items),
                     "context": pa.array(ctxs)}), path)
    return len(dids)
