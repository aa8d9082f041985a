"""Seeded input generators for the graft benchmark.

Everything here is computed from `--seed` alone, with numpy, and apart
from the program: the batch tables the `SparkEntry.queries` builders
read, the streaming backlog (app-log JSON lines and Maxwell CDC
envelopes) and the answers the streaming checks compare against.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- batch

WORDS = ("a the batch part spark line column order small sort fast value "
         "scan hash slow group agg filter query big key window row table "
         "stream merge data vector customer join").split()
ADJ = "large hot red new blue cold green small".split()
NOUN = "ring bolt anvil rod plate nut gear pipe".split()
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]

US = 1_000_000
DAY_US = 86_400 * US


def _epoch_us(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * US


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    days = (end - start) // DAY_US
    return start + rng.integers(0, days + 1, n) * DAY_US


def gen_tables(out_dir, seed, sf):
    """The ten star-schema tables (FIXTURES.md section 2) at scale `sf`:
    same names, types and value domains as the repo's test data."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    write("region", {"r_regionkey": i32(np.arange(5)), "r_name": REGIONS})
    write("nation", {"n_nationkey": i32(np.arange(25)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": i32(np.arange(25) % 5)})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    write("part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(_days(rng, _epoch_us(1995, 1, 1),
                                 _epoch_us(2001, 8, 1), n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 1000, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(_days(rng, _epoch_us(1995, 1, 2),
                                _epoch_us(2001, 11, 4), n_li))})
    ev_ts = np.sort(rng.integers(_epoch_us(2024, 1, 1),
                                 _epoch_us(2024, 1, 31), n_ev))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, int(k)))
             for k in rng.integers(8, 70, n_docs)]
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0, 0.13, (n_vecs, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vecs))})


# ------------------------------------------------------------ streaming

LOG_BASE_MS = 1_709_251_200_000  # 2024-03-01T00:00:00Z
VCS = ["v2.1.134", "v2.1.132", "v2.1.111", "v2.0.1", "v1.9.9", "v1.0.0"]
VC_P = np.array([0.45, 0.25, 0.12, 0.09, 0.06, 0.03])
PAGES = ["home", "good_detail", "good_list", "cart", "trade", "search"]
FLUSH_VC = "flush"


def _fmt_window(ms):
    w = ms - ms % 10_000
    return dt.datetime.fromtimestamp(w / 1000, dt.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def gen_logs(rng, files, lines):
    """App-log backlog (FIXTURES.md section 1.1) split into `files`
    micro-batch files. Events arrive 20-80 ms apart and carry an event
    time up to 1.5 s before arrival: out of order, but inside the 2 s
    watermark. `mid` and `vc` keys are skewed."""
    exp = {"lines": 0, "dirty": 0, "page": 0, "start": 0, "err": 0,
           "display": 0, "action": 0}
    dws = {}
    mids = [f"mid_{i:04d}" for i in range(400)]
    mid_p = 1.0 / np.arange(1, 401) ** 1.1
    mid_p /= mid_p.sum()
    arrival = LOG_BASE_MS
    out = []
    for f in range(files):
        buf = []
        for _ in range(lines):
            arrival += int(rng.integers(20, 81))
            ts = arrival - int(rng.integers(0, 1501))
            exp["lines"] += 1
            r = rng.random()
            if r < 0.04:
                exp["dirty"] += 1
                buf.append(rng.choice(['{"common":{"mid":"mid_0', "null-log",
                                       '{"page": [1, 2', "", "}{"]))
                continue
            common = {"mid": mids[rng.choice(400, p=mid_p)],
                      "uid": str(int(rng.integers(1, 5000))),
                      "vc": VCS[rng.choice(6, p=VC_P)],
                      "ch": rng.choice(["xiaomi", "oppo", "web", "wandoujia"]),
                      "ar": str(int(rng.integers(11, 35)) * 10000),
                      "is_new": rng.choice(["0", "1"]),
                      "ba": "brand", "md": "model", "os": "Android 11.0"}
            ev = {"common": common, "ts": ts}
            if r < 0.14:
                ev["start"] = {"entry": rng.choice(["icon", "notice"]),
                               "open_ad_id": int(rng.integers(1, 20)),
                               "loading_time": int(rng.integers(1000, 9000))}
                exp["start"] += 1
            else:
                dur = int(rng.integers(1000, 30000))
                ev["page"] = {"page_id": rng.choice(PAGES),
                              "last_page_id": rng.choice(PAGES),
                              "item": str(int(rng.integers(1, 40))),
                              "item_type": "sku_id", "during_time": dur}
                exp["page"] += 1
                key = (_fmt_window(ts), common["vc"])
                pv, ds = dws.get(key, (0, 0))
                dws[key] = (pv + 1, ds + dur)
                if rng.random() < 0.4:
                    ev["displays"] = [
                        {"item": str(int(rng.integers(1, 40))),
                         "item_type": "sku_id", "pos_id": int(p), "order": int(p)}
                        for p in range(1, int(rng.integers(1, 4)) + 1)]
                    exp["display"] += len(ev["displays"])
                if rng.random() < 0.2:
                    ev["actions"] = [
                        {"item": str(int(rng.integers(1, 40))),
                         "item_type": "sku_id",
                         "action_id": rng.choice(["favor_add", "cart_add"]),
                         "ts": ts + 100 * (a + 1)}
                        for a in range(int(rng.integers(1, 3)))]
                    exp["action"] += len(ev["actions"])
            if rng.random() < 0.05:
                ev["err"] = {"error_code": int(rng.integers(1000, 4000)),
                             "msg": "java.lang.NullPointerException"}
                exp["err"] += 1
            buf.append(json.dumps(ev, separators=(",", ":")))
        out.append(buf)
    # flush sentinel: one page event a minute past the backlog advances
    # the watermark so every real window closes; its own window stays open
    out[-1].append(json.dumps({
        "common": {"mid": "mid_flush", "uid": "0", "vc": FLUSH_VC, "ch": "web",
                   "ar": "110000", "is_new": "0", "ba": "b", "md": "m", "os": "o"},
        "page": {"page_id": "home", "last_page_id": "home", "item": "0",
                 "item_type": "sku_id", "during_time": 1},
        "ts": arrival + 60_000}, separators=(",", ":")))
    exp["lines"] += 1
    exp["page"] += 1
    exp["dws"] = sorted([k[0], k[1], v[0], v[1]] for k, v in dws.items())
    return out, exp


# CDC: source table -> (sink table, sink columns); sink pk is always `id`
DIMS = {
    "base_trademark": ("dim_base_trademark", ["id", "tm_name", "logo_url"]),
    "base_category3": ("dim_base_category3", ["id", "name", "category2_id"]),
    "base_province": ("dim_base_province", ["id", "name", "region_id", "area_code"]),
    "sku_info": ("dim_sku_info", ["id", "spu_id", "price", "sku_name",
                                  "tm_id", "category3_id"]),
}
CDC_BASE_S = 1_709_251_200
# The same-second block: fixed keys, images and binlog seconds that do not
# depend on the seed, so its outcome is the same in every run.
TIE_TABLE = "sku_info"
TIE_TS = 1_700_000_000


def _image(rng, table, key):
    cols = DIMS[table][1]
    vals = {"id": str(key)}
    for c in cols[1:]:
        vals[c] = (f"{c}_{int(rng.integers(0, 10**6))}" if c.endswith("name")
                   or c in ("logo_url", "area_code")
                   else str(int(rng.integers(1, 10**5))))
    return vals


def _fixed_image(table, key, tag):
    return {c: (str(key) if c == "id" else f"{c}_{tag}_{key}")
            for c in DIMS[table][1]}


def _env(table, typ, ts, data, old=None):
    e = {"database": "gmall", "table": table, "type": typ, "ts": str(ts),
         "data": data}
    if old is not None:
        e["old"] = old
    return json.dumps(e, separators=(",", ":"))


def tie_block(n_pairs):
    """Two kinds of same-second op pairs on one key, `n_pairs` each.
    Returns (envelopes before, envelopes of the pairs, expected images)."""
    pre, pairs, exp = [], [], {}
    for i in range(n_pairs):  # insert then update in one binlog second
        k = 900_000 + i
        ins, upd = _fixed_image(TIE_TABLE, k, "ins"), _fixed_image(TIE_TABLE, k, "upd")
        pairs += [_env(TIE_TABLE, "insert", TIE_TS, ins),
                  _env(TIE_TABLE, "update", TIE_TS, upd, {"sku_name": ins["sku_name"]})]
        exp[str(k)] = upd
    for i in range(n_pairs):  # delete then re-insert in one binlog second
        k = 910_000 + i
        old, new = _fixed_image(TIE_TABLE, k, "old"), _fixed_image(TIE_TABLE, k, "new")
        pre.append(_env(TIE_TABLE, "insert", TIE_TS - 10, old))
        pairs += [_env(TIE_TABLE, "delete", TIE_TS, old),
                  _env(TIE_TABLE, "insert", TIE_TS, new)]
        exp[str(k)] = new
    return pre, pairs, exp


def gen_cdc(rng, files, per_file, keys, n_pairs):
    """Maxwell envelope backlog (FIXTURES.md section 1.2) over four dim
    tables: bootstrap-inserts, inserts, updates and deletes (re-inserts
    after a delete too), plus rows of an unrouted table. Seeded ops on
    one key always land in distinct binlog seconds; the same-second
    pairs come only from `tie_block`."""
    tables = list(DIMS)
    state = {t: {} for t in tables}   # in-order replay: key -> image
    out = []
    sec = CDC_BASE_S
    pre, pairs, tie_exp = tie_block(n_pairs)
    for f in range(files):
        buf = []
        if f == 0:
            buf += pre
            for t in tables:  # bootstrap snapshot of a third of the keys
                for k in range(1, keys // 3):
                    img = _image(rng, t, k)
                    buf.append(_env(t, "bootstrap-insert", sec, img))
                    state[t][str(k)] = img
                sec += 1
        # a file starts a new binlog second, so no key's ops share one
        # across a file boundary
        sec, used, n = sec + 1, set(), 0
        while n < per_file:
            if rng.random() < 0.25:  # a second ends; keys may repeat again
                sec, used = sec + 1, set()
            t = tables[int(rng.integers(0, len(tables)))]
            if rng.random() < 0.03:
                buf.append(_env("order_info", "insert", sec,
                                {"id": str(int(rng.integers(1, 10**6)))}))
                n += 1
                continue
            k = str(int(rng.integers(1, keys)))
            if (t, k) in used:
                continue
            used.add((t, k))
            n += 1
            cur = state[t].get(k)
            if cur is None:
                img = _image(rng, t, int(k))
                buf.append(_env(t, "insert", sec, img))
                state[t][k] = img
            elif rng.random() < 0.15:
                buf.append(_env(t, "delete", sec, cur))
                del state[t][k]
            else:
                img = _image(rng, t, int(k))
                img["id"] = k
                buf.append(_env(t, "update", sec, img,
                                {c: cur[c] for c in list(img)[1:2]}))
                state[t][k] = img
        if f == files - 1:
            buf += pairs
        out.append(buf)
    expected = {DIMS[t][0]: sorted(
        [[img[c] for c in DIMS[t][1]] for img in state[t].values()])
        for t in tables}
    return out, expected, tie_exp


def write_lines(path, lines, mtime):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.utime(path, (mtime, mtime))


def gen_stream(out_dir, seed, log_files, log_lines, cdc_files, cdc_per_file,
               cdc_keys, tie_pairs):
    """Write the backlog under out_dir/{logs,cdc}/ (file mtimes spaced one
    second apart so the file source takes them in order) and a short
    warm-up copy under out_dir/warm/, and return the generator's own
    answers."""
    rng = np.random.default_rng([seed, 2])
    logs, exp = gen_logs(rng, log_files, log_lines)
    cdc, dims, ties = gen_cdc(rng, cdc_files, cdc_per_file, cdc_keys, tie_pairs)
    for sub, parts in (("logs", logs), ("cdc", cdc)):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
        for i, lines in enumerate(parts):
            write_lines(os.path.join(out_dir, sub, f"part-{i:04d}.json"), lines,
                        1_600_000_000 + i)
        # warm-up input: the head of the first file
        os.makedirs(os.path.join(out_dir, "warm", sub), exist_ok=True)
        write_lines(os.path.join(out_dir, "warm", sub, "part-0000.json"),
                    parts[0][:300], 1_600_000_000)
    exp["dims"] = dims
    exp["ties"] = {"table": DIMS[TIE_TABLE][0], "columns": DIMS[TIE_TABLE][1],
                   "images": ties}
    exp["config"] = [[t, s, ",".join(c), "id"] for t, (s, c) in DIMS.items()]
    return exp
