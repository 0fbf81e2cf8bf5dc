#!/usr/bin/env python3
"""Seeded, single-threaded input generators for the end-to-end benchmark.

Every input the benchmark feeds the program comes from here, and the same
seed always yields the same bytes (the stream generator's time stamps are
the one deliberate exception: they are wall-clock send times).

* ``messages``  – the 13-topic sports message corpus (topic, value JSON,
  timestamp) with its ledger: per topic how many rows are valid, carry the
  wrong sport, or do not parse.  Field values are realistic for the
  warehouse: numeric-string ids, parseable timestamps, several versions of
  every event key, and a topic mix heavy on live_score.
* ``tables``    – the ten OLAP fixture tables (TPC-H-like star plus
  events, documents and embeddings) at a chosen scale factor.
* ``corpus``    – the corpus-ingest document batches.
* ``stream``    – a separate process that writes stamped message files on
  a fixed schedule (it never slows down when the consumer does) and
  reports how late it ran.

The topic field lists come from the program itself: the build step dumps
``graft.schema.Schemas.specs`` to ``specs.json``.
"""
import argparse
import json
import os
import random
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# share of all messages per topic: live_score dominates, as in production
TOPIC_MIX = {
    "live_score": 0.30, "event": 0.10, "event.stats": 0.10,
    "event.timeline": 0.10, "event.lineup": 0.08, "schedule": 0.06,
    "live.event.lookup": 0.06, "broadcast": 0.05, "event.highlights": 0.04,
    "player": 0.04, "team": 0.03, "venue": 0.02, "league": 0.02,
}
PARSE_FAIL = 0.04    # unparseable payloads
WRONG_SPORT = 0.10   # rows of topics with a sport field that name another sport
VERSIONS = 3         # average versions per event key
NIGHT = "2025-10-16"           # the night a nightly batch ingests
NIGHT_EPOCH = 1760637600.0     # 2025-10-16 18:00:00 UTC
STATUSES = ["NS", "1H", "HT", "2H", "Match Finished"]
WORDS = ["north", "city", "united", "rovers", "park", "arena", "cup", "league",
         "royal", "athletic", "star", "river", "port", "valley", "union"]


def load_specs(path):
    with open(path) as f:
        return {s["name"]: s for s in json.load(f)}


def _kind(name):
    """Value family of a declared field, by the API's naming convention."""
    if name == "ingested_at":
        return "ing"
    if name == "strSport":
        return "sport"
    if name == "idEvent":
        return "event"
    if name.startswith("idLeague"):
        return "league"
    if name in ("idHomeTeam", "idAwayTeam", "idTeam", "idTeam2", "idTeamNational"):
        return "team"
    if name in ("idPlayer", "idAssist", "idPlayerManager"):
        return "player"
    if name == "idVenue":
        return "venue"
    if name == "idChannel":
        return "channel"
    if name in ("id", "idLiveScore", "idTimeline", "idLineup", "idStatistic"):
        return "uid"
    if name == "intFormedYear":
        return "year"
    if name.startswith("id") or name.startswith("int") or name in (
            "strProgress", "strNumber"):
        return "int"
    if name.startswith("date"):
        return "date"
    if name in ("strTimestamp", "strTimeStamp", "updated"):
        return "ts"
    if name in ("strTime", "strTimeLocal", "strEventTime"):
        return "time"
    if name == "strSubstitute":
        return "yesno"
    if name == "strStatus":
        return "status"
    return "text"


class MessageGen:
    """Deterministic message source: ``next()`` yields one message."""

    def __init__(self, specs, seed, n_hint):
        self.rng = random.Random(seed)
        self.specs = specs
        self.topics = [t for t in TOPIC_MIX if t in specs]
        self.weights = [TOPIC_MIX[t] for t in self.topics]
        self.fields = {t: [(f["name"], _kind(f["name"]), f.get("fields"))
                           for f in specs[t]["fields"]] for t in self.topics}
        # event keys: each is re-sent about VERSIONS times on the event topic
        self.n_events = max(1, int(n_hint * TOPIC_MIX["event"] / VERSIONS))
        self.event_base = 2_000_000 + self.rng.randrange(1_000_000)
        self.seq = 0
        self.ledger = {t: {"valid": 0, "rejected": 0, "parse_failed": 0}
                       for t in self.topics}
        self.valid_event_keys = set()

    def _value(self, kind, ctx):
        r = self.rng
        if kind == "ing":
            return ctx["ing"]
        if kind == "sport":
            return ctx["sport"]
        if kind == "event":
            return ctx["event"]
        if kind == "league":
            return str(4300 + r.randrange(40))
        if kind == "team":
            return str(133600 + r.randrange(1000))
        if kind == "player":
            return str(34100000 + r.randrange(20000))
        if kind == "venue":
            return str(15000 + r.randrange(500))
        if kind == "channel":
            return str(r.randrange(200))
        if kind == "uid":
            return str(ctx["seq"])
        if kind == "year":
            return str(1870 + r.randrange(150))
        if kind == "int":
            return str(r.randrange(10))
        if kind == "date":
            return ctx["date"]
        if kind == "ts":
            return ctx["ts"]
        if kind == "time":
            return ctx["ts"][11:]
        if kind == "yesno":
            return "Yes" if r.random() < 0.3 else "No"
        if kind == "status":
            return STATUSES[r.randrange(len(STATUSES))]
        return WORDS[r.randrange(len(WORDS))] + " " + str(r.randrange(100))

    def next(self, created=None):
        """One message ``(topic, value, ts_seconds)``.  ``created`` stamps
        it with a wall-clock send time; otherwise it is placed in tonight's
        window by its sequence number."""
        r = self.rng
        seq = self.seq
        self.seq += 1
        topic = r.choices(self.topics, self.weights)[0]
        ts = created if created is not None else NIGHT_EPOCH + seq * 0.05
        book = self.ledger[topic]
        if r.random() < PARSE_FAIL:
            book["parse_failed"] += 1
            return topic, "NOT JSON {{[ %d" % seq, ts
        spec = self.specs[topic]
        wrong = spec["sport"] is not None and r.random() < WRONG_SPORT
        # live scores: most update tonight, a fifth land late on the prior
        # night, so the nightly MV merge touches an already-loaded day
        if topic == "live_score" and r.random() < 0.2:
            day, hh = "2025-10-15", 23
        else:
            day, hh = NIGHT, 18 + r.randrange(6)
        ctx = {
            "ing": ts, "seq": seq, "date": day,
            "sport": "Basketball" if wrong else "Soccer",
            "event": str(self.event_base + r.randrange(self.n_events)),
            "ts": "%s %02d:%02d:%02d" % (day, hh, r.randrange(60), r.randrange(60)),
        }
        doc = {}
        for name, kind, nested in self.fields[topic]:
            if nested is not None:
                doc[name] = {f["name"]: self._value(_kind(f["name"]), ctx)
                             for f in nested}
            else:
                doc[name] = self._value(kind, ctx)
        if wrong:
            book["rejected"] += 1
        else:
            book["valid"] += 1
            if topic == "event":
                self.valid_event_keys.add(ctx["event"])
        return topic, json.dumps(doc, separators=(",", ":")), ts

    def ledger_json(self):
        return {"topics": self.ledger, "rows": self.seq,
                "event_keys": len(self.valid_event_keys)}


def _message_table(rows):
    topics, values, ts = zip(*rows)
    micros = pa.array([int(round(t * 1e6)) for t in ts], pa.int64())
    return pa.table({
        "topic": pa.array(["soccer." + t for t in topics], pa.string()),
        "value": pa.array(values, pa.string()),
        "timestamp": micros.cast(pa.timestamp("us", tz="UTC")),
    })


def write_message_file(path, rows):
    """Atomic: a file source never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(_message_table(rows), tmp)
    os.replace(tmp, path)


def messages(specs, seed, n, out_dir, files):
    """``n`` messages split over ``files`` parquet files; returns the ledger."""
    g = MessageGen(specs, seed, n)
    os.makedirs(out_dir, exist_ok=True)
    per = -(-n // files)
    for i in range(files):
        rows = [g.next() for _ in range(min(per, n - i * per))]
        if rows:
            write_message_file(os.path.join(out_dir, "part-%05d.parquet" % i), rows)
    return g.ledger_json()


# ---------------------------------------------------------------- tables

def _ts_col(days_since, base):
    micros = (np.datetime64(base, "us").astype(np.int64)
              + days_since.astype(np.int64) * 86_400_000_000)
    return pa.array(micros, pa.int64()).cast(pa.timestamp("us"))


def tables(seed, sf, out_dir):
    """The ten fixture tables at scale ``sf`` (lineitem ≈ 6e6·sf rows)."""
    rng = np.random.RandomState(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(vocab, n):
        return pa.array(np.array(vocab, dtype=object)[rng.randint(0, len(vocab), n)],
                        pa.string())

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(regions)})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pick(["%s %s" % (a, b) for a in adjs for b in nouns], n_part),
        "p_brand": pick(["Brand#%d" % i for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": pa.array(rng.randint(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1))})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(1000, 500000, n_ord)),
        "o_orderdate": _ts_col(rng.randint(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    put("lineitem", {
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.randint(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.randint(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.randint(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(900, 105000, n_line)),
        "l_discount": pa.array(rng.randint(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.randint(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _ts_col(rng.randint(1, 2499, n_line), "1995-01-01")})
    n_ev = int(1_000_000 * sf)
    ev_us = np.sort(rng.randint(0, 30 * 86_400_000_000, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64) + ev_us,
                       pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.randint(0, 100, n_ev)])})
    documents_table(rng, int(50_000 * sf), os.path.join(out_dir, "documents.parquet"))
    n_emb = int(20_000 * sf)
    vecs = rng.normal(0, 0.125, (n_emb, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_emb).astype(np.int32))})


DOC_WORDS = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
             "fast", "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "value", "vector", "window"]


def documents_table(rng, n, path):
    words = np.array(DOC_WORDS, dtype=object)
    lens = rng.randint(8, 80, n)
    texts = [" ".join(words[rng.randint(0, len(words), k)]) for k in lens]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(["en", "en", "en", "de", "es", "fr", "zh"],
                                  dtype=object)[rng.randint(0, 7, n)], pa.string()),
        "source": pa.array(["src%d" % s for s in rng.randint(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}), path)


def corpus(seed, n, out_dir):
    """Corpus-ingest batches from one seeded document set: b0 the
    originals, b1 first-token-dropped copies (ids +1e6), b2 two-token-
    dropped copies (ids +2e6), plus the two benchmark sets the lifecycle
    decontaminates against (every 10th doc at ingest, every 7th in the
    retroactive sweep)."""
    os.makedirs(out_dir, exist_ok=True)
    src = os.path.join(out_dir, "documents.parquet")
    documents_table(np.random.RandomState(seed), n, src)
    docs = pq.read_table(src).to_pydict()
    ids, texts = docs["doc_id"], docs["text"]

    def drop(t, k):
        return " ".join(t.split(" ")[k:]) or t

    for b in range(3):
        pq.write_table(pa.table({
            "id": pa.array([i + b * 1_000_000 for i in ids], pa.int64()),
            "t": pa.array([drop(t, b) for t in texts], pa.string())}),
            os.path.join(out_dir, "b%d.parquet" % b))
    for name, every in (("bench", 10), ("newbench", 7)):
        pq.write_table(pa.table({"text": pa.array(
            [t for i, t in zip(ids, texts) if i % every == 0], pa.string())}),
            os.path.join(out_dir, name + ".parquet"))


# ---------------------------------------------------------------- stream

def stream(specs, seed, out_dir, rows_per_s, files_per_s, seconds, report):
    """Open-loop load: file k is due at start + k/files_per_s whatever the
    consumer does.  Rows are stamped with their due time, so a late
    generator counts against latency instead of hiding it."""
    g = MessageGen(specs, seed, int(rows_per_s * seconds))
    os.makedirs(out_dir, exist_ok=True)
    per_file = max(1, int(round(rows_per_s / files_per_s)))
    n_files = int(seconds * files_per_s)
    late = []
    start = time.time()
    for k in range(n_files):
        due = start + k / files_per_s
        now = time.time()
        if now < due:
            time.sleep(due - now)
        late.append(max(0.0, time.time() - due) * 1000)
        write_message_file(os.path.join(out_dir, "part-%05d.parquet" % k),
                           [g.next(due) for _ in range(per_file)])
    out = g.ledger_json()
    out.update({"files": n_files, "late_ms_max": max(late, default=0.0),
                "late_ms_p50": float(np.median(late)) if late else 0.0,
                "wall_s": time.time() - start})
    with open(report, "w") as f:
        json.dump(out, f)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    m = sub.add_parser("messages")
    m.add_argument("--specs", required=True)
    m.add_argument("--seed", type=int, required=True)
    m.add_argument("--rows", type=int, required=True)
    m.add_argument("--files", type=int, default=8)
    m.add_argument("--out", required=True)
    m.add_argument("--ledger", required=True)
    t = sub.add_parser("tables")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--sf", type=float, required=True)
    t.add_argument("--out", required=True)
    d = sub.add_parser("corpus")
    d.add_argument("--seed", type=int, required=True)
    d.add_argument("--rows", type=int, required=True)
    d.add_argument("--out", required=True)
    s = sub.add_parser("stream")
    s.add_argument("--specs", required=True)
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--rows-per-s", type=float, required=True)
    s.add_argument("--files-per-s", type=float, required=True)
    s.add_argument("--seconds", type=float, required=True)
    s.add_argument("--report", required=True)
    a = ap.parse_args(argv)
    if a.cmd == "messages":
        ledger = messages(load_specs(a.specs), a.seed, a.rows, a.out, a.files)
        with open(a.ledger, "w") as f:
            json.dump(ledger, f)
    elif a.cmd == "tables":
        tables(a.seed, a.sf, a.out)
    elif a.cmd == "corpus":
        corpus(a.seed, a.rows, a.out)
    else:
        stream(load_specs(a.specs), a.seed, a.out, a.rows_per_s,
               a.files_per_s, a.seconds, a.report)


if __name__ == "__main__":
    main(sys.argv[1:])
