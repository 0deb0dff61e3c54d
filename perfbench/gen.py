"""Seeded input generator for the graft benchmark.

Everything a workload reads is derived from integer seeds, so the same
seed always gives byte-identical inputs:

* the ten fixture-shaped tables (region ... embeddings) at the benchmark
  scale (sf0.1), with the schemas, value domains and size ratios of the
  repo's parquet fixtures (TESTDATA.md, FIXTURES.md), from the fixed
  TABLE_SEED;
* for ``lake_mutate``: Sparkify song JSON derived from part/supplier, log
  JSON derived from lineitem/orders (a seeded share of the plays names a
  real song), an ``orders``-derived base table, per-cycle upsert batches
  (updates plus inserts), delete predicates, read ranges and lookup keys,
  and the expected answer of every read after every cycle;
* for ``index_ingest``: a seeded base/held-out split of documents and
  embeddings, micro-batches of held-out rows with planted exact and near
  duplicates of indexed rows, and probe batches of indexed-row copies.

The tables come from a fixed seed and are generated once; each (seed,
workload) lands in its own cache directory with a ``manifest.json``
recording row counts, bytes and the planted shares. A complete directory is
reused as is.
"""
import glob
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BENCH_SF = 0.1

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
COLORS = "blue hot large small red green dark light".split()
NOUNS = "anvil bolt ring widget gear spring valve lever".split()
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000

# lake_mutate plan shape. These sizes are arbitrary, not a traffic model:
# a cycle updates 3000 and inserts 1000 rows of the 120k-row base (2.5%
# and 0.8%) and deletes one key residue in 503 (0.2%), so each commit is
# small beside the table, as a floor-bound commit should be. Per cycle the
# workload reads two date ranges and looks up one live key.
ROUNDS = 4  # round 0 is timed; a traced run adds rounds 1-3 for its overhead
LAKE_UPDATES = 3000
LAKE_INSERTS = 1000
LAKE_DELETE_MOD = 503
LAKE_SKIP_READS = 2
LAKE_SONG_MATCH = 0.5
TABLE_SEED = 42
SONG_EVERY = 40
LOG_EVERY = 8  # one log event per LOG_EVERY-th lineitem
# index_ingest plan shape (per micro-batch, at sf0.1). A batch holds 2% of
# each table's rows as held-out rows (an arbitrary size). Planted near
# duplicates follow the share near_dup_share measures in the documents
# table (5.6% here; 243 of 5000 rows, 4.9%, in the repo's sf0.1 fixture);
# the embeddings fixture has none (highest cosine between two rows 0.60),
# so vector batches take the documents' share. The fixture's exact-duplicate
# rate (8 of 5000) would plant none per batch, so each batch carries
# DUP_EXACT exact copies: enough for the rejection check to bite, not a
# traffic model.
DOC_HELD = 100
VEC_HELD = 40
DUP_EXACT = 2
PROBES = 4
NEAR_TOKEN = "dup"  # the fixture's near-duplicate edit appends this token

def _rng(seed, *salt):
    return np.random.default_rng([seed, *salt])


def _days(base, offsets):
    return (np.datetime64(base, "us") + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]")


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def tables(seed, sf):
    """The ten fixture tables at scale ``sf`` as pyarrow tables."""
    salt = int(round(sf * 1_000_000))
    r = _rng(seed, 1, salt)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    f64 = lambda a: pa.array(np.asarray(a, dtype=np.float64))
    strs = lambda vals, idx: pa.array(np.asarray(vals, dtype=object)[idx])
    out = {}
    out["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": i64(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": i32(r.integers(0, 25, n_cust)),
        "c_acctbal": f64(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": strs(SEGMENTS, r.integers(0, 5, n_cust))})
    sk = np.arange(n_supp)
    s_nation = r.integers(0, 25, n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": i64(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": i32(s_nation),
        "s_acctbal": f64(np.round(r.uniform(-999.99, 9999.99, n_supp), 2))})
    pk = np.arange(n_part)
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    out["part"] = pa.table({
        "p_partkey": i64(pk),
        "p_name": strs(names, r.integers(0, len(names), n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": strs(PTYPES, r.integers(0, 6, n_part)),
        "p_size": i32(r.integers(1, 51, n_part)),
        "p_retailprice": f64(np.round(900 + (pk % 1000) * 0.1, 1))})
    o_cust = r.integers(0, n_cust, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(o_cust),
        "o_orderstatus": strs(["F", "O", "P"], r.integers(0, 3, n_ord)),
        "o_totalprice": f64(np.round(r.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(_days("1995-01-01", r.integers(0, 2405, n_ord))),
        "o_orderpriority": strs(PRIORITIES, r.integers(0, 5, n_ord))})
    out["lineitem"] = pa.table({
        "l_orderkey": i64(r.integers(0, n_ord, n_li)),
        "l_partkey": i64(r.integers(0, n_part, n_li)),
        "l_suppkey": i64(r.integers(0, n_supp, n_li)),
        "l_linenumber": i32(r.integers(1, 8, n_li)),
        "l_quantity": f64(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": f64(np.round(r.uniform(900, 105000, n_li), 2)),
        "l_discount": f64(r.integers(0, 11, n_li) / 100.0),
        "l_tax": f64(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": strs(["A", "N", "R"], r.integers(0, 3, n_li)),
        "l_linestatus": strs(["F", "O"], r.integers(0, 2, n_li)),
        "l_shipdate": pa.array(_days("1995-01-02", r.integers(0, 2499, n_li)))})
    ts = np.sort(r.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array((np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"))),
        "user_id": i64(r.integers(0, n_users, n_ev)),
        "event_type": strs(EVENT_TYPES, r.integers(0, 5, n_ev)),
        "value": f64(np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})
    texts = []
    vocab = np.asarray(VOCAB, dtype=object)
    kind = r.random(n_doc)
    for i in range(n_doc):
        if i > 10 and kind[i] < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 10 and kind[i] < 0.0516:
            texts.append(texts[int(r.integers(0, i))])
        else:
            texts.append(" ".join(vocab[r.integers(0, len(VOCAB), int(r.integers(10, 101)))]))
    out["documents"] = pa.table({
        "doc_id": i64(np.arange(n_doc)),
        "text": pa.array(texts),
        "lang": strs(LANGS, r.choice(5, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": i64([len(t) for t in texts])})
    emb = r.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(r.integers(0, 10, n_emb))})
    return out


def _json_lines(table, out_dir, files):
    """Newline-delimited JSON, ``files`` files, rows in table order."""
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{out_dir}/duckdb_tmp'")
    step = -(-table.num_rows // files)
    for f in range(files):
        part = table.slice(f * step, step)
        con.register("part_rows", part)
        con.execute(f"COPY part_rows TO '{out_dir}/part-{f:03d}.json' (FORMAT JSON)")
        con.unregister("part_rows")
    con.close()


def lake_inputs(seed, t, out_dir):
    """Sparkify JSON plus the lake mutation plan; returns manifest facts."""
    r = _rng(seed, 2)
    part, supp = t["part"].to_pydict(), t["supplier"].to_pydict()
    # A song per SONG_EVERY-th part, its artist a supplier; the songs dim is
    # partitioned by (year, artist_id), so both stay small enough that the
    # partition count is hundreds, not one directory per song.
    n_song = max(50, len(part["p_partkey"]) // SONG_EVERY)
    art = np.arange(n_song) % max(5, n_song // 10)
    title = [f"{part['p_name'][i].title()} {i}" for i in range(n_song)]
    artist = [supp["s_name"][a] for a in art]
    duration = np.round(np.asarray(part["p_retailprice"][:n_song]) / 4.0, 3)
    songs = pa.table({
        "num_songs": pa.array(np.ones(n_song, dtype=np.int64)),
        "artist_id": pa.array([f"AR{a:06d}" for a in art]),
        "artist_latitude": pa.array(np.round((art % 180) - 90.0, 4)),
        "artist_longitude": pa.array(np.round((art % 360) - 180.0, 4)),
        "artist_location": pa.array([f"NATION_{supp['s_nationkey'][a]}" for a in art]),
        "artist_name": pa.array(artist),
        "song_id": pa.array([f"SO{i:08d}" for i in range(n_song)]),
        "title": pa.array(title),
        "duration": pa.array(duration),
        "year": pa.array((1995 + np.arange(n_song) % 5).astype(np.int64))})
    _json_lines(songs, f"{out_dir}/song_data", 4)
    # One log event per lineitem, built in DuckDB (vectorised; the seeded
    # coin flips are hashes of (row, seed), so the output is deterministic).
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{out_dir}/duckdb_tmp'")
    li, orders = t["lineitem"], t["orders"]
    con.register("li", li.append_column("rid", pa.array(np.arange(li.num_rows, dtype=np.int64))))
    con.register("ord", t["orders"])
    con.register("songs", songs.append_column("pk", pa.array(np.arange(n_song, dtype=np.int64))))
    u = lambda salt: f"(hash(rid, {int(seed)}, {salt}) % 1000000) / 1000000.0"
    con.execute(f"""
      CREATE TABLE logs AS
      SELECT rid,
        s.artist_name AS artist, 'Logged In' AS auth,
        'F' || o.o_custkey AS firstName,
        CASE WHEN o.o_custkey % 2 = 0 THEN 'F' ELSE 'M' END AS gender,
        CAST(l.l_linenumber AS BIGINT) AS itemInSession,
        'L' || o.o_custkey AS lastName, s.duration AS length,
        CASE WHEN {u(1)} < 0.3 THEN 'paid' ELSE 'free' END AS level,
        'NATION_' || (o.o_custkey % 25) AS location, 'PUT' AS method,
        CASE WHEN {u(2)} < 0.9 THEN 'NextSong'
             ELSE ['Home', 'Login', 'Logout', 'Settings'][1 + CAST(floor({u(3)} * 4) AS INT)] END AS page,
        1.5e12 + o.o_custkey * 1000.0 AS registration,
        l.l_orderkey AS sessionId,
        CASE WHEN {u(4)} < {LAKE_SONG_MATCH} THEN s.title ELSE s.title || ' (live)' END AS song,
        CAST(200 AS BIGINT) AS status,
        CAST(epoch_ms(l.l_shipdate) + floor({u(5)} * 86400000) AS BIGINT) AS ts,
        'Mozilla/5.0' AS userAgent, CAST(o.o_custkey AS VARCHAR) AS userId
      FROM li l
      JOIN ord o ON o.o_orderkey = l.l_orderkey AND l.rid % {LOG_EVERY} = 0
      JOIN songs s ON s.pk = l.l_partkey % {n_song}""")
    os.makedirs(f"{out_dir}/log_data", exist_ok=True)
    for f in range(8):
        con.execute(f"COPY (SELECT * EXCLUDE (rid) FROM logs WHERE rid % 8 = {f} ORDER BY rid) "
                    f"TO '{out_dir}/log_data/part-{f:03d}.json' (FORMAT JSON)")
    n, plays, matched = con.execute(
        "SELECT count(*), count_if(page = 'NextSong'), "
        "count_if(page = 'NextSong' AND NOT ends_with(song, ' (live)')) FROM logs").fetchone()
    con.close()

    # Lake table: a seeded 80% of orders is the base, the rest feeds inserts.
    o = orders.to_pydict()
    n_ord = len(o["o_orderkey"])
    perm = r.permutation(n_ord)
    n_base = int(n_ord * 0.8)
    keys = np.asarray(o["o_orderkey"], dtype=np.int64)
    dates = orders.column("o_orderdate").to_numpy()
    price = np.asarray(o["o_totalprice"])
    cols = lambda idx, seq: pa.table({
        "key": pa.array(keys[idx]),
        "o_custkey": pa.array(np.asarray(o["o_custkey"], dtype=np.int64)[idx]),
        "o_orderdate": pa.array(dates[idx]),
        "o_totalprice": pa.array(price[idx]),
        "seq": pa.array(np.full(len(idx), seq, dtype=np.int64))})
    base_idx = np.sort(perm[:n_base])
    _write(cols(base_idx, 1), f"{out_dir}/base.parquet")
    live_seq = np.zeros(n_ord, dtype=np.int64)  # 0 = absent
    live_seq[base_idx] = 1
    pool = list(perm[n_base:])
    n_upd, n_ins = LAKE_UPDATES, LAKE_INSERTS
    day0 = np.datetime64("1995-01-01", "us")
    cycles = []
    for c in range(ROUNDS):
        seq = c + 2
        live = np.flatnonzero(live_seq)
        upd = r.choice(live, min(n_upd, len(live)), replace=False)
        ins = np.asarray(pool[:n_ins], dtype=np.int64)
        pool = pool[n_ins:]
        idx = np.sort(np.concatenate([upd, ins]))
        b = cols(idx, seq)
        b = b.set_column(3, "o_totalprice",
                         pa.array(np.round(price[idx] * (1 + 0.01 * (c % 7 + 1)), 2)))
        _write(b, f"{out_dir}/cycle-{c:03d}.parquet")
        live_seq[idx] = seq
        residue = int(r.integers(0, LAKE_DELETE_MOD))
        live_seq[(keys % LAKE_DELETE_MOD == residue) & (live_seq > 0)] = 0
        live = live_seq > 0
        reads = []
        for _ in range(LAKE_SKIP_READS):
            start = int(r.integers(0, 2405 - 120))
            width = int(r.integers(30, 120))
            lo_ts, hi_ts = day0 + np.timedelta64(start, "D"), day0 + np.timedelta64(start + width, "D")
            m = live & (dates >= lo_ts) & (dates <= hi_ts)
            reads.append({"lo": str(lo_ts.astype("datetime64[s]")).replace("T", " "),
                          "hi": str(hi_ts.astype("datetime64[s]")).replace("T", " "),
                          "expect": [int(m.sum()), int(keys[m].sum()), int(live_seq[m].sum())]})
        point = int(r.choice(np.flatnonzero(live)))  # a live key: one row back
        bm = live & (keys == point)
        bloom = {"keys": [point],
                 "expect": [int(bm.sum()), int(keys[bm].sum()), int(live_seq[bm].sum())]}
        cycles.append({"residue": residue, "mod": LAKE_DELETE_MOD, "ranges": reads,
                       "blooms": [bloom], "live_rows": int(live.sum())})
    with open(f"{out_dir}/plan.json", "w") as f:
        json.dump({"cycles": cycles, "base_rows": int(n_base)}, f)
    return {"songs": n_song, "log_events": n, "next_song_plays": plays,
            "plays_matching_a_song": matched, "match_share": matched / max(plays, 1),
            "lake_base_rows": int(n_base), "lake_cycles": ROUNDS,
            "lake_updates_per_cycle": int(n_upd), "lake_inserts_per_cycle": int(n_ins)}


def near_dup_share(texts):
    """Share of documents that are another document plus one appended
    NEAR_TOKEN: the near-duplicate form of the documents fixture."""
    have = set(texts)
    tail = " " + NEAR_TOKEN
    return sum(1 for x in texts if x.endswith(tail) and x[:-len(tail)] in have) / len(texts)


def index_inputs(seed, t, out_dir):
    """Document/vector base split, ingest micro-batches and probe batches."""
    r = _rng(seed, 3)
    docs = t["documents"].select(["doc_id", "text", "lang"]).to_pydict()
    nd = len(docs["doc_id"])
    perm = r.permutation(nd)
    base = np.sort(perm[: int(nd * 0.7)])
    held = list(perm[int(nd * 0.7):])
    take = lambda idx: pa.table({k: pa.array([docs[k][i] for i in idx]) for k in docs})
    _write(take(base), f"{out_dir}/docs_base.parquet")
    emb = t["embeddings"].select(["vec_id", "embedding"])
    ev = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    vec_ids = [int(x) for x in emb.column("vec_id").to_numpy()]
    ne = emb.num_rows
    eperm = r.permutation(ne)
    ebase = np.sort(eperm[: int(ne * 0.7)])
    eheld = list(eperm[int(ne * 0.7):])
    vtab = lambda ids, vecs: pa.table({"vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
                                      "embedding": pa.array(list(np.asarray(vecs, dtype=np.float32)),
                                                            type=pa.list_(pa.float32()))})
    _write(vtab(ebase, ev[ebase]), f"{out_dir}/emb_base.parquet")
    near_share = near_dup_share(docs["text"])
    d_held, d_exact, d_near = DOC_HELD, DUP_EXACT, round(near_share * DOC_HELD)
    v_held, v_exact, v_near = VEC_HELD, DUP_EXACT, round(near_share * VEC_HELD)
    # near-duplicate sources lack NEAR_TOKEN, so the edit changes the token set
    near_src = np.asarray([i for i in base if NEAR_TOKEN not in docs["text"][i].split(" ")])
    n_batches = ROUNDS
    assert n_batches <= min(len(held) // d_held, len(eheld) // v_held)
    new_id = 10_000_000
    batches = []
    for c in range(n_batches):
        hd, held = held[:d_held], held[d_held:]
        ids, texts, langs, exact_ids, near_ids = [], [], [], [], []
        for i in hd:
            ids.append(docs["doc_id"][i]); texts.append(docs["text"][i]); langs.append(docs["lang"][i])
        for kind, n in (("exact", d_exact), ("near", d_near)):
            for j in r.choice(base if kind == "exact" else near_src, n, replace=False):
                txt = docs["text"][j] if kind == "exact" else docs["text"][j] + " " + NEAR_TOKEN
                ids.append(new_id); texts.append(txt); langs.append(docs["lang"][j])
                (exact_ids if kind == "exact" else near_ids).append(new_id)
                new_id += 1
        _write(pa.table({"doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
                         "text": pa.array(texts), "lang": pa.array(langs)}),
               f"{out_dir}/docs-{c:03d}.parquet")
        he, eheld = eheld[:v_held], eheld[v_held:]
        vids, vecs, vexact, vnear = [vec_ids[i] for i in he], list(ev[he]), [], []
        for kind, n in (("exact", v_exact), ("near", v_near)):
            for j in r.choice(ebase, n, replace=False):
                v = ev[j].astype(np.float64)
                if kind == "near":
                    v = v + r.normal(0, 0.01, v.shape)
                    v = v / np.linalg.norm(v)
                vids.append(new_id); vecs.append(v.astype(np.float32))
                (vexact if kind == "exact" else vnear).append(new_id)
                new_id += 1
        _write(vtab(vids, vecs), f"{out_dir}/emb-{c:03d}.parquet")
        # probe batches: fresh-id copies of base rows; the answer is the source row
        pd_src = [int(x) for x in r.choice(base, PROBES, replace=False)]
        pv_src = [int(x) for x in r.choice(ebase, PROBES, replace=False)]
        p_ids = list(range(new_id, new_id + PROBES)); new_id += PROBES
        _write(pa.table({"doc_id": pa.array(np.asarray(p_ids, dtype=np.int64)),
                         "text": pa.array([docs["text"][j] for j in pd_src]),
                         "lang": pa.array([docs["lang"][j] for j in pd_src])}),
               f"{out_dir}/docs-probe-{c:03d}.parquet")
        pv_ids = list(range(new_id, new_id + PROBES)); new_id += PROBES
        _write(vtab(pv_ids, ev[pv_src]), f"{out_dir}/emb-probe-{c:03d}.parquet")
        batches.append({"doc_rows": len(ids), "doc_exact": exact_ids, "doc_near": near_ids,
                        "vec_rows": len(vids), "vec_exact": vexact, "vec_near": vnear,
                        "doc_probe": [[a, docs["doc_id"][b]] for a, b in zip(p_ids, pd_src)],
                        "vec_probe": [[a, vec_ids[b]] for a, b in zip(pv_ids, pv_src)]})
    with open(f"{out_dir}/plan.json", "w") as f:
        json.dump({"batches": batches, "doc_base_rows": int(len(base)),
                   "vec_base_rows": int(len(ebase))}, f)
    return {"doc_base_rows": int(len(base)), "vec_base_rows": int(len(ebase)),
            "corpus_near_dup_share": near_share, "batches": n_batches, "doc_batch_rows": d_held + d_exact + d_near,
            "vec_batch_rows": v_held + v_exact + v_near,
            "doc_planted_exact_share": d_exact / (d_held + d_exact + d_near),
            "doc_planted_near_share": d_near / (d_held + d_exact + d_near),
            "vec_planted_exact_share": v_exact / (v_held + v_exact + v_near),
            "vec_planted_near_share": v_near / (v_held + v_exact + v_near)}


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)


def _complete(out, build):
    """Run ``build(out)`` unless ``out`` already holds a manifest; the
    manifest is written last, so a directory without one is rebuilt."""
    path = os.path.join(out, "manifest.json")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        manifest = build(out)
        with open(path + ".tmp", "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def generate(root, seed, workload):
    """Build (or reuse) the inputs of ``workload`` for ``seed`` under ``root``.

    The tables come from the fixed TABLE_SEED, like the repo's fixtures, and
    are shared by every run; the seed drives the workload's own inputs (the
    olap query order, the Sparkify logs and lake plan, the index split and
    batches). Returns (tables_dir, inputs_dir)."""
    version = hashlib.sha256(open(__file__, "rb").read()).hexdigest()[:12]
    tdir = os.path.join(root, f"tables-{version}")

    def build_tables(out):
        t = tables(TABLE_SEED, BENCH_SF)
        for tn, tab in t.items():
            _write(tab, os.path.join(out, "sf0.1", f"{tn}.parquet"))
        return {"table_seed": TABLE_SEED, "sf": BENCH_SF,
                "rows": {tn: tab.num_rows for tn, tab in t.items()},
                "bytes": _dir_bytes(os.path.join(out, "sf0.1"))}

    for old in glob.glob(os.path.join(root, "tables-*")):
        if old != tdir:
            shutil.rmtree(old, ignore_errors=True)
    tmeta = _complete(tdir, build_tables)
    sdir = os.path.join(root, f"seed-{seed}-{workload}-{version}")

    def build_inputs(out):
        facts = {}
        if workload != "olap_mix":
            t = {tn: pq.read_table(os.path.join(tdir, "sf0.1", f"{tn}.parquet"))
                 for tn in ("supplier", "part", "orders", "lineitem", "documents", "embeddings")}
            sub = os.path.join(out, "inputs")
            make = lake_inputs if workload == "lake_mutate" else index_inputs
            facts = make(seed, t, sub)
            facts["bytes"] = _dir_bytes(sub)
        return {"seed": seed, "workload": workload, "generator": version,
                "tables": tmeta, "inputs": facts}

    _complete(sdir, build_inputs)
    return tdir, sdir
