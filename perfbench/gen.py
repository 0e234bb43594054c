"""Seeded input generator for the ingestion benchmark.

Everything the engine reads during a run is written here, before any timing
starts, from `--seed` alone: the same seed gives byte-identical inputs.

Two families of inputs:

* `tables/` -- the TPC-H-ish star schema plus the `events`, `documents` and
  `embeddings` tables, in the shapes the engine's query library and its
  DuckDB oracles expect (one parquet file per table).
* `ingest/` -- for each ingestion pipeline, a round-0 bootstrap batch and a
  sequence of Debezium-style CDC envelope batches
  (`value{op, before, after, source{db, server_id}}`), the control table
  (`table_details` rows with the reference's merge_cond JSON dialect) and
  the PII config (`pii_column_details`: hash, encrypt and regex-scrub
  rules; the order comments carry planted e-mails, ids and phone numbers).
  Each batch mixes updates, deletes and inserts, carries in-batch
  duplicates (a second, newer update of a key) and late events (an update
  older than the key's current version), and `manifest.json` records the
  row count of every batch.

Usage: python3 gen.py --workload <name> --seed <n> --scale <full|tiny> --out <dir>
"""
import argparse
import collections
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale factors: `full` is what the benchmark measures, `tiny` is for the
# smoke test (see table_sizes for what a scale factor means).
SIZES = {
    "full": {"fanout_sf": 0.1, "query_sf": 0.01, "rounds": 12},
    "tiny": {"fanout_sf": 0.002, "query_sf": 0.001, "rounds": 3},
}
# Tenants are key-modulo slices: TENANTS of TENANT_BUCKETS buckets ingest,
# so each pipeline sees 1/TENANT_BUCKETS of a table.
TENANT_BUCKETS, TENANTS = 8, 2
BATCH_SHARE = 0.05
# op mix of one CDC batch, as shares of the batch's distinct keys
UPDATE_SHARE, DELETE_SHARE, INSERT_SHARE, LATE_SHARE = 0.72, 0.08, 0.15, 0.05
DUPLICATE_SHARE = 0.10  # extra newer update for this share of updated keys

EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
DAY_US = 86_400 * 1_000_000
UTC_US = pa.timestamp("us", tz="UTC")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def table_sizes(sf):
    """Rows of customer, orders and part at scale factor `sf`."""
    return int(150_000 * sf), int(1_500_000 * sf), int(200_000 * sf)


def days_since_1995(rng, n, span_days):
    base = np.datetime64("1995-01-01", "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


# --------------------------------------------------------------------------
# Query tables: the shapes the engine's query library reads
# --------------------------------------------------------------------------

def query_tables(rng, sf):
    n_cust, n_ord, n_part = table_sizes(sf)
    n_supp, n_line, n_events = max(10, int(10_000 * sf)), n_ord * 4, int(1_000_000 * sf)
    n_docs, n_emb = max(300, int(30_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
    noun = ["bolt", "gear", "plate", "ring", "widget", "nut", "pipe", "valve"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + 0.1 * (np.arange(n_part) % 10000), 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": days_since_1995(rng, n_ord, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days_since_1995(rng, n_line, 2500)})
    gaps = rng.exponential(30 * DAY_US / n_events, n_events)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, int(15000 * sf)), n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = [" ".join(rng.choice(WORDS, int(n))) for n in rng.integers(10, 101, n_docs)]
    # 5% planted near-duplicates: an earlier document plus one marker word
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = rng.normal(0, 0.07 / 8, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


# --------------------------------------------------------------------------
# Ingestion sources: base rows, mutators and CDC envelopes
# --------------------------------------------------------------------------

# One source table's generator: `base(keys)` builds payload columns for new
# keys, `mutate(cols, idx)` returns changed copies of existing rows.
Entity = collections.namedtuple("Entity", "base mutate")


def month_of(ts_us):
    return np.datetime_as_string(ts_us.astype("datetime64[M]"), unit="M")


def customer_entity(rng):
    def base(k):
        n = len(k)
        return {"c_custkey": k.astype(np.int64),
                "c_name": np.array([f"Customer#{i:09d}" for i in k], dtype=object),
                "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
                "c_mktsegment": rng.choice(SEGMENTS, n).astype(object),
                "c_phone": np.array([f"{a}-{b:03d}-{c:04d}" for a, b, c in zip(
                    rng.integers(10, 35, n), rng.integers(100, 1000, n),
                    rng.integers(0, 10000, n))], dtype=object)}

    def mutate(cols, idx):
        out = {c: v[idx].copy() for c, v in cols.items()}
        out["c_acctbal"] = np.round(out["c_acctbal"] + rng.uniform(-500, 500, len(idx)), 2)
        flip = rng.random(len(idx)) < 0.3
        out["c_mktsegment"][flip] = rng.choice(SEGMENTS, int(flip.sum()))
        return out
    return Entity(base, mutate)


def comments(rng, n):
    """Free text with planted e-mails, SSN-shaped ids and phone numbers."""
    out = []
    for kind, a, b in zip(rng.integers(0, 4, n), rng.integers(0, 100_000, n),
                          rng.integers(0, 10_000, n)):
        words = " ".join(rng.choice(WORDS, 5))
        out.append([f"{words} contact user{a}@example.com today",
                    f"{words} call 555-{a % 1000:03d}-{b:04d} back",
                    f"{words} ssn {a % 900 + 100:03d}-{b % 90 + 10:02d}-{b:04d}",
                    words][kind])
    return np.array(out, dtype=object)


def orders_entity(rng, n_cust):
    def base(k):
        n = len(k)
        date = days_since_1995(rng, n, 180)  # 6 order-month partitions
        return {"o_orderkey": k.astype(np.int64),
                "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
                "o_orderstatus": rng.choice(STATUSES, n).astype(object),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
                "o_orderdate": date,
                "o_orderpriority": rng.choice(PRIORITIES, n).astype(object),
                "o_comment": comments(rng, n),
                "order_month": month_of(date).astype(object)}

    def mutate(cols, idx):
        out = {c: v[idx].copy() for c, v in cols.items()}
        out["o_orderstatus"] = rng.choice(STATUSES, len(idx)).astype(object)
        out["o_totalprice"] = np.round(out["o_totalprice"] * rng.uniform(0.9, 1.1, len(idx)), 2)
        out["o_comment"] = comments(rng, len(idx))
        return out
    return Entity(base, mutate)


def part_entity(rng):
    def base(k):
        n = len(k)
        return {"p_partkey": k.astype(np.int64),
                "p_name": np.array([f"part {i}" for i in k], dtype=object),
                "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], dtype=object),
                "p_size": rng.integers(1, 51, n).astype(np.int32),
                "p_retailprice": np.round(rng.uniform(900, 2000, n), 2)}

    def mutate(cols, idx):
        out = {c: v[idx].copy() for c, v in cols.items()}
        out["p_retailprice"] = np.round(rng.uniform(900, 2000, len(idx)), 2)
        return out
    return Entity(base, mutate)


def arrow_payload(cols):
    arrays, names = [], []
    for c, v in cols.items():
        names.append(c)
        if c == "updated_at":
            arrays.append(pa.array(v, pa.int64()).cast(UTC_US))
        elif np.issubdtype(np.asarray(v).dtype, np.datetime64):
            arrays.append(pa.array(v.astype("datetime64[us]").astype(np.int64)).cast(UTC_US))
        else:
            arrays.append(pa.array(v))
    return pa.StructArray.from_arrays(arrays, names=names)


def envelope(cols, ops, db):
    """Debezium envelope: c/u carry `after`, d carries `before`."""
    n = len(ops)
    payload = arrow_payload(cols)
    is_del = np.array([o == "d" for o in ops])
    before = pa.StructArray.from_arrays(payload.flatten(), fields=list(payload.type),
                                        mask=pa.array(~is_del))
    after = pa.StructArray.from_arrays(payload.flatten(), fields=list(payload.type),
                                       mask=pa.array(is_del))
    source = pa.StructArray.from_arrays(
        [pa.array([db] * n), pa.array(np.ones(n, dtype=np.int64))], names=["db", "server_id"])
    value = pa.StructArray.from_arrays(
        [pa.array(list(ops)), before, after, source],
        names=["op", "before", "after", "source"])
    return pa.table({"value": value})


class Stream:
    """Live state of one pipeline's source table, emitting CDC batches.
    Inserted keys continue from `next_key` in steps of `key_stride`."""

    def __init__(self, rng, entity, keys, db, next_key, key_stride):
        self.rng, self.entity, self.db = rng, entity, db
        self.next_key, self.key_stride = next_key, key_stride
        self.cols = entity.base(keys)
        self.cols["updated_at"] = EPOCH_2024 + rng.integers(0, DAY_US, len(keys))
        self.live = np.ones(len(keys), dtype=bool)

    def bootstrap(self):
        return envelope(self.cols, ["c"] * len(self.live), self.db)

    def batch(self, round_no, share):
        rng = self.rng
        live_idx = np.flatnonzero(self.live)
        size = max(1, int(round(len(live_idx) * share)))
        t0 = EPOCH_2024 + (round_no + 1) * DAY_US
        n_upd, n_del = max(1, int(size * UPDATE_SHARE)), int(size * DELETE_SHARE)
        n_late, n_ins = int(size * LATE_SHARE), int(size * INSERT_SHARE)
        picked = rng.choice(live_idx, min(len(live_idx), n_upd + n_del + n_late),
                            replace=False)
        upd, dele, late = (picked[:n_upd], picked[n_upd:n_upd + n_del],
                           picked[n_upd + n_del:])
        parts, ops = [], []

        def emit(cols, op, ts):
            parts.append({**cols, "updated_at": ts})
            ops.extend([op] * len(ts))

        # updates, plus a second, newer update for some keys (in-batch dups)
        first, second = self.entity.mutate(self.cols, upd), self.entity.mutate(self.cols, upd)
        u_ts = t0 + rng.integers(0, DAY_US // 2, len(upd))
        dup = rng.random(len(upd)) < DUPLICATE_SHARE
        emit(first, "u", u_ts)
        emit({c: v[dup] for c, v in second.items()}, "u", u_ts[dup] + DAY_US // 2)
        # late events: older than the key's current version
        emit(self.entity.mutate(self.cols, late), "u",
             self.cols["updated_at"][late] - rng.integers(1, 3_600_000_000, len(late)))
        # deletes: the before-image, stamped with the delete time
        emit({c: v[dele] for c, v in self.cols.items() if c != "updated_at"}, "d",
             t0 + rng.integers(0, DAY_US, len(dele)))
        # inserts of fresh keys
        new_keys = self.next_key + self.key_stride * np.arange(n_ins, dtype=np.int64)
        self.next_key += self.key_stride * n_ins
        ins = self.entity.base(new_keys)
        ins_ts = t0 + rng.integers(0, DAY_US, n_ins)
        emit(ins, "c", ins_ts)

        # advance the live state the way a newest-wins merge would
        for c in first:
            self.cols[c][upd] = np.where(dup, second[c], first[c])
        self.cols["updated_at"][upd] = np.where(dup, u_ts + DAY_US // 2, u_ts)
        self.live[dele] = False
        for c in ins:
            self.cols[c] = np.concatenate([self.cols[c], ins[c]])
        self.cols["updated_at"] = np.concatenate([self.cols["updated_at"], ins_ts])
        self.live = np.concatenate([self.live, np.ones(n_ins, dtype=bool)])

        order = rng.permutation(len(ops))
        merged = {c: np.concatenate([p[c] for p in parts])[order] for c in self.cols}
        return envelope(merged, [ops[i] for i in order], self.db)


def scd1_merge_cond():
    return json.dumps([
        {"condtionType": "match", "deleteOption": True,
         "condition": "updates.row_active = false AND updates.updated_at > target.updated_at"},
        {"condtionType": "match", "condition": "updates.updated_at > target.updated_at"},
        {"condtionType": "notmatch", "condition": "updates.row_active = true"}])


def scd2_merge_cond(processed_cols):
    insert = {c: f"updates.{c}" for c in processed_cols}
    insert.update({"current_flag": "true", "eff_date": "updates.updated_at",
                   "expiry_date": "CAST(NULL AS TIMESTAMP)"})
    return json.dumps({
        "matchCondition": "target.current_flag = true AND updates.updated_at > target.eff_date",
        "updateMap": {"current_flag": "false", "expiry_date": "updates.updated_at"},
        "insertMap": insert})


# columns CdcProcessor adds to every demuxed envelope row
PROCESSOR_COLS = ["row_active", "deleted_flag", "src_db", "src_server_id"]
CHANGE_COLS = ["hashed_jk", "grouping_jk"]


def control_row(def_id, table, scd, keys, partition, merge_cond):
    return {"pipeline_def_id": def_id, "table_name": table, "scd_type": scd,
            "join_key": ",".join(keys), "partition_id_col": partition,
            "updated_at_col": "updated_at", "extra_join_cond": "",
            "op_config": '{"format":"parquet"}', "merge_cond": merge_cond}


def ingest_inputs(rng, sizes, out):
    rounds = sizes["rounds"]
    n_cust, n_ord, n_part = table_sizes(sizes["fanout_sf"])
    pipelines = []  # (control row, Stream)
    for s in range(TENANTS):
        def stream(entity, n):  # new keys stay in the tenant's slice
            return Stream(rng, entity, np.arange(s, n, TENANT_BUCKETS), f"tenant{s}",
                          next_key=TENANT_BUCKETS * n_ord + s, key_stride=TENANT_BUCKETS)
        cust = stream(customer_entity(rng), n_cust)
        ords = stream(orders_entity(rng, n_cust), n_ord)
        part = stream(part_entity(rng), n_part)
        cust_cols = list(cust.cols) + PROCESSOR_COLS + ["c_name_hash"] + CHANGE_COLS
        pipelines += [
            (control_row(f"pd_t{s}_customer", f"t{s}_customer", "scd2",
                         ["c_custkey"], "", scd2_merge_cond(cust_cols)), cust),
            (control_row(f"pd_t{s}_orders", f"t{s}_orders", "scd1",
                         ["o_orderkey"], "order_month", scd1_merge_cond()), ords),
            (control_row(f"pd_t{s}_part", f"t{s}_part", "scd4",
                         ["p_partkey"], "", ""), part)]
    # SHA-256 of the name, AES of the phone number, regex scrub of the comment
    pii = [("c_name", True, "complete", False), ("c_phone", True, None, True),
           ("o_comment", True, "partial", False)]

    manifest = {"rounds": rounds, "rows": {}}
    for row, stream in pipelines:
        table = row["table_name"]
        counts = []
        boot = stream.bootstrap()
        write(boot, f"{out}/ingest/{table}/b000.parquet")
        counts.append(boot.num_rows)
        for r in range(1, rounds + 1):
            b = stream.batch(r, BATCH_SHARE)
            write(b, f"{out}/ingest/{table}/b{r:03d}.parquet")
            counts.append(b.num_rows)
        manifest["rows"][table] = counts
    rows = [row for row, _ in pipelines]
    write(pa.table({k: [r[k] for r in rows] for k in rows[0]}),
          f"{out}/ingest/table_details.parquet")
    write(pa.table({"pii_column_name": [p[0] for p in pii],
                    "common_flag": [p[1] for p in pii],
                    "anonymization_flag": pa.array([p[2] for p in pii], pa.string()),
                    "encryption_flag": [p[3] for p in pii]}),
          f"{out}/ingest/pii_column_details.parquet")
    with open(f"{out}/ingest/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest_fanout", "curation_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rng = np.random.default_rng(a.seed)
    sizes = SIZES[a.scale]
    if a.workload == "curation_queries":
        for name, table in query_tables(rng, sizes["query_sf"]).items():
            write(table, f"{a.out}/tables/{name}.parquet")
    else:
        ingest_inputs(rng, sizes, a.out)


if __name__ == "__main__":
    main()
