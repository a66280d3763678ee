#!/usr/bin/env python3
"""Seeded input generators for the benchmark.

Every generator is a pure function of (seed, size): the same arguments
give byte-identical files, a different seed gives different files.
Each returns a manifest (a dict) with the ground truth the output checks
need, e.g. how many rows were planted invalid.

  trips(seed, n, out_dir)        raw bicis trip CSVs in the four header
                                 dialects (2011/2012/2013/2016)
  corpus(seed, n, out_dir)       JSONL documents with planted near-dup
                                 clusters, cut 90/10 into base and batch
  tables(seed, scale, out_dir)   the analytic parquet tables the query
                                 registry reads (region .. embeddings)

Self-test:  python3 perfbench/gen.py --self-test
"""
import hashlib
import json
import os
import sys
import tempfile

import numpy as np

# ---------------------------------------------------------------- trips

# year -> (header, field order); see graft.core.Ingest.fieldMaps
DIALECTS = {
    2011: ["ORIGENFECHA", "NOMBREORIGEN", "DESTINOFECHA", "NOMBREDESTINO", "TIEMPOUSO"],
    2012: ["ORIGENFECHA", "ORIGENNOMBRE", "DESTINOFECHA", "DESTINONOMBRE", "TIEMPOUSO"],
    2013: ["ORIGEN_FECHA", "DESTINO_FECHA", "NOMBRE_ORIGEN", "DESTINO_ESTACION"],
    2016: ["FECHA_HORA_RETIRO", "TIEMPO_USO", "NOMBRE_ORIGEN", "NOMBRE_DESTINO"],
}
# share of the trips each yearly file carries
YEAR_SHARE = {2011: 0.15, 2012: 0.2, 2013: 0.25, 2016: 0.4}
N_STATIONS = 250
# rents per hour of day: a commute-shaped diurnal profile
DIURNAL = np.array([2, 1, 1, 1, 1, 3, 8, 16, 22, 14, 10, 11,
                    13, 12, 11, 12, 15, 21, 20, 13, 9, 6, 4, 3], dtype=float)
WEEKLY = np.array([1.0, 1.0, 1.0, 1.0, 0.95, 0.6, 0.5])  # Mon..Sun
INVALID_SHARE = 0.01      # rows whose dates cannot be parsed (dropped at unify)
NULL_STATION_SHARE = 0.01  # rows with an empty rent station (dropped at dataset)


def _fmt_ts(secs, style):
    """Epoch seconds -> one of the three timestamp formats Ingest accepts."""
    t = np.datetime64(int(secs), "s").astype(object)
    if style == 0:
        return t.strftime("%d/%m/%Y %H:%M")
    if style == 1:
        return t.strftime("%d/%m/%Y %H:%M:%S")
    return t.strftime("%Y-%m-%d %H:%M:%S") + ".000000"


def _fmt_duration(secs, style):
    """Duration in whole seconds -> bare minutes or "0H 25M 13S"."""
    if style == 0:
        return str(secs // 60)
    return f"{secs // 3600}H {secs % 3600 // 60}M {secs % 60}S"


def trips(seed, n, out_dir):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    zipf = 1.0 / np.arange(1, N_STATIONS + 1) ** 1.1
    zipf /= zipf.sum()
    # station names are fixed by popularity rank: which stations are hot
    # (and so which shuffle partitions they hash to) is the same for every
    # seed; the seed varies the trips
    names = np.array([f"Estacion {i:03d}" for i in range(N_STATIONS)])
    day_w = np.tile(WEEKLY, 53)
    hour_p = DIURNAL / DIURNAL.sum()
    manifest = {"generated_rows": 0, "invalid_rows": 0, "null_station_rows": 0,
                "files": []}
    for year, header in DIALECTS.items():
        m = int(round(n * YEAR_SHARE[year]))
        # one year of trips: weekday-weighted day, diurnal hour
        start = int(np.datetime64(f"{year}-01-01", "s").astype(np.int64))
        # weekday of Jan 1st (1970-01-01 was a Thursday, index 3)
        dow0 = (start // 86400 + 3) % 7
        w = day_w[dow0:dow0 + 365]
        day = rng.choice(365, size=m, p=w / w.sum())
        hour = rng.choice(24, size=m, p=hour_p)
        rent = start + day * 86400 + hour * 3600 + rng.integers(0, 3600, size=m)
        dur = rng.integers(3 * 60, 90 * 60, size=m)
        if year in (2011, 2012, 2016):
            # bare minutes carry whole minutes only: keep the return time exact
            dur_style = rng.integers(0, 2, size=m)
            dur = np.where(dur_style == 0, dur // 60 * 60, dur)
        else:
            dur_style = np.zeros(m, dtype=int)
        ts_style = rng.integers(0, 3, size=m)
        src = names[rng.choice(N_STATIONS, size=m, p=zipf)]
        dst = names[rng.choice(N_STATIONS, size=m, p=zipf)]
        invalid = rng.random(m) < INVALID_SHARE
        null_st = (~invalid) & (rng.random(m) < NULL_STATION_SHARE)
        path = os.path.join(out_dir, f"recorridos-realizados-{year}.csv")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write(";".join(header) + "\n")
            for i in range(m):
                rs = _fmt_ts(rent[i], ts_style[i])
                re_ = _fmt_ts(rent[i] + dur[i], ts_style[i])
                d = _fmt_duration(int(dur[i]), dur_style[i])
                if invalid[i]:
                    rs = "sin fecha"  # no accepted format matches -> row dropped
                st = "" if null_st[i] else src[i]
                row = {"ORIGENFECHA": rs, "NOMBREORIGEN": st, "ORIGENNOMBRE": st,
                       "DESTINOFECHA": re_, "NOMBREDESTINO": dst[i],
                       "DESTINONOMBRE": dst[i], "TIEMPOUSO": d,
                       "ORIGEN_FECHA": rs, "DESTINO_FECHA": re_,
                       "NOMBRE_ORIGEN": st, "DESTINO_ESTACION": dst[i],
                       "FECHA_HORA_RETIRO": rs, "TIEMPO_USO": d,
                       "NOMBRE_DESTINO": dst[i]}
                f.write(";".join(row[h] for h in header) + "\n")
        manifest["files"].append(path)
        manifest["generated_rows"] += m
        manifest["invalid_rows"] += int(invalid.sum())
        manifest["null_station_rows"] += int(null_st.sum())
    return manifest


# --------------------------------------------------------------- corpus

STOP = ["the", "a", "and", "of", "to", "in", "is", "that", "for", "with"]
LANG_MARKERS = {"es": ["el", "la", "que", "los"], "de": ["der", "die", "und", "das"],
                "fr": ["le", "les", "est", "des"]}
N_SOURCES = 20
NEAR_DUP_SHARE = 0.12  # docs that are edited copies of an earlier doc


def _vocab(rng, size=3000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, size=k)))
    return sorted(words)


def _docs(rng, n, first_id, vocab, pool):
    """n documents; each near-dup copies a doc from `pool` (ids < its own)."""
    lang_names = ["en", "es", "de", "fr", "zh"]
    out = []
    for k in range(n):
        doc_id = first_id + k
        if pool and rng.random() < NEAR_DUP_SHARE:
            base = pool[int(rng.integers(0, len(pool)))]
            words = base["text"].split(" ")
            # edit ~2 % of the words: the shingle Jaccard stays above 0.8
            for _ in range(max(1, len(words) // 50)):
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            lang, source = base["lang"], base["source"]
        else:
            lang = lang_names[int(rng.integers(0, len(lang_names)))]
            source = f"src{int(rng.integers(0, N_SOURCES))}"
            nw = int(rng.integers(40, 160))
            words = [vocab[i] for i in rng.integers(0, len(vocab), size=nw)]
            markers = STOP + LANG_MARKERS.get(lang, [])
            for _ in range(nw // 8):
                words[int(rng.integers(0, nw))] = markers[int(rng.integers(0, len(markers)))]
        text = " ".join(words)
        d = {"doc_id": doc_id, "text": text, "lang": lang, "source": source,
             "n_chars": len(text)}
        out.append(d)
        pool.append(d)
    return out


def _write_jsonl(path, docs):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for d in docs:
            f.write(json.dumps(d, sort_keys=True) + "\n")


def corpus(seed, n, out_dir):
    """base.jsonl (first 90 %), batch.jsonl (last 10 %), union.jsonl (all)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rng)
    pool = []
    n_base = n * 9 // 10
    base = _docs(rng, n_base, 0, vocab, pool)
    batch = _docs(rng, n - n_base, n_base, vocab, pool)
    paths = {k: os.path.join(out_dir, f"{k}.jsonl") for k in ("base", "batch", "union")}
    _write_jsonl(paths["base"], base)
    _write_jsonl(paths["batch"], batch)
    _write_jsonl(paths["union"], base + batch)
    return {"base_docs": len(base), "batch_docs": len(batch), **paths}


# --------------------------------------------------------------- tables

def tables(seed, scale, out_dir):
    """TPC-H-shaped star schema + events/documents/embeddings as parquet,
    row counts proportional to `scale` (1.0 ~ 6M lineitem rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)

    def n_of(k):
        return max(5, int(k * scale))

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, n_days, size):
        d = np.datetime64(start, "D") + rng.integers(0, n_days, size=size)
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    i32, i64 = pa.int32(), pa.int64()
    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(rng.integers(0, 5, 25), i32)})
    nc, ns, np_, no = n_of(150000), n_of(10000), n_of(200000), n_of(1500000)
    write("customer", {"c_custkey": pa.array(range(nc), i64),
                       "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                       "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                       "c_acctbal": money(-999.99, 9999.99, nc),
                       "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                   "HOUSEHOLD", "MACHINERY"], nc).tolist()})
    write("supplier", {"s_suppkey": pa.array(range(ns), i64),
                       "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                       "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                       "s_acctbal": money(-999.99, 9999.99, ns)})
    adj = ["blue", "red", "hot", "cold", "small", "big", "old", "new"]
    noun = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "nut"]
    retail = np.round(900 + (np.arange(np_) % 1000) / 10.0, 2)
    write("part", {"p_partkey": pa.array(range(np_), i64),
                   "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                              zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
                   "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
                   "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                         "SMALL", "STANDARD"], np_).tolist(),
                   "p_size": pa.array(rng.integers(1, 51, np_), i32),
                   "p_retailprice": retail})
    odate = np.datetime64("1995-01-01", "D") + rng.integers(0, 2400, size=no)
    write("orders", {"o_orderkey": pa.array(range(no), i64),
                     "o_custkey": pa.array(rng.integers(0, nc, no), i64),
                     "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
                     "o_totalprice": money(1000, 500000, no),
                     "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
                     "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                    "4-NOT SPECIFIED", "5-LOW"], no).tolist()})
    lines = rng.integers(1, 8, size=no)
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(okey)
    pkey = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    ship = odate[okey] + rng.integers(1, 122, size=nl)
    write("lineitem", {"l_orderkey": pa.array(okey, i64),
                       "l_partkey": pa.array(pkey, i64),
                       "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
                       "l_linenumber": pa.array(lnum, i32),
                       "l_quantity": qty,
                       "l_extendedprice": np.round(qty * retail[pkey] + rng.uniform(0, 1, nl), 2),
                       "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
                       "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
                       "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
                       "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
                       "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})
    ne, nu = n_of(1000000), n_of(15000)
    ts = np.sort(np.datetime64("2024-01-01", "us") +
                 rng.integers(0, 30 * 86400 * 10**6, size=ne).astype("timedelta64[us]"))
    write("events", {"event_id": pa.array(range(ne), i64),
                     "ts": pa.array(ts, pa.timestamp("us")),
                     "user_id": pa.array(rng.integers(0, nu, ne), i64),
                     "event_type": rng.choice(["click", "error", "purchase", "signup",
                                               "view"], ne, p=[.4, .05, .1, .05, .4]).tolist(),
                     "value": np.round(rng.uniform(0.01, 500, ne), 2),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n_of(50000)
    docs = _docs(rng, nd, 0, _vocab(rng, 40), [])
    write("documents", {k: pa.array([d[k] for d in docs], i64 if k in ("doc_id", "n_chars")
                                    else pa.string())
                        for k in ("doc_id", "text", "lang", "source", "n_chars")})
    nv = n_of(50000)
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 0.2, size=(10, 64))
    emb = (centers[labels] + rng.normal(0, 0.08, size=(nv, 64))).astype(np.float32)
    write("embeddings", {"vec_id": pa.array(range(nv), i64),
                         "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                         "label": pa.array(labels, i32)})
    return {"scale": scale, "lineitem_rows": nl, "events_rows": ne, "documents_rows": nd}


# ------------------------------------------------------------ self-test

def _digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def self_test():
    gens = [("trips", lambda s, d: trips(s, 3000, d)),
            ("corpus", lambda s, d: corpus(s, 400, d)),
            ("tables", lambda s, d: tables(s, 0.001, d))]
    with tempfile.TemporaryDirectory() as tmp:
        for name, g in gens:
            digests = []
            for run, seed in enumerate([7, 7, 8]):
                d = os.path.join(tmp, f"{name}{run}")
                g(seed, d)
                digests.append(_digest(d))
            assert digests[0] == digests[1], f"{name}: same seed, different bytes"
            assert digests[0] != digests[2], f"{name}: different seed, same bytes"
        m = trips(7, 3000, os.path.join(tmp, "t"))
        assert m["generated_rows"] == 3000 and m["invalid_rows"] > 0 and m["null_station_rows"] > 0
    print("gen self-test ok")


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        self_test()
    else:
        sys.exit("usage: gen.py --self-test")
