"""Seeded input generator and DuckDB oracle for the graft benchmark.

For one (workload, seed) this writes the parquet tables the program reads,
a manifest (row counts, bytes, planted duplicate shares, distinct join-key
counts, digest) and the expected output of every op, computed by DuckDB.
Nothing here is timed as part of set-up or of an op.

The tables mirror the TPC-H-shaped schema of the repo's test data
(lineitem / orders / customer / part / documents).  Every entity key is
shifted by a seed-derived offset and document text is a seeded
permutation of a synthetic vocabulary, so two seeds share no keys and no
shingles while keeping the same sizes and value distributions.
"""
import hashlib
import json
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload (rows).  Stated in perfbench/README.md.
FEATURE_ORDERS = 10_000          # lineitem ~ 4x orders
FEATURE_CUSTOMERS = 1_500
FEATURE_PARTS = 2_000
MODEL_ORDERS = 25_000
CORPUS_BASE_DOCS = 1_600        # + planted exact/near duplicates

EXACT_DUP_SHARE = 0.10          # of the final corpus
NEAR_DUP_SHARE = 0.10
CONTAM_SHARE = 0.02
MISSING_CUSTOMER_SHARE = 0.02   # orders whose customer is absent
MISSING_PART_SHARE = 0.05       # lineitems whose part is absent

# Corpus pipeline constants shared with the Scala workload (Workloads.scala).
SHINGLE_N = 3
JACCARD_MIN = 0.8
EVAL_MOD = 97
WINDOW = 8
QUALITY_INTERCEPT = 25          # weights: (b % 7) - 3 for hash bucket b
TOKEN_BUDGET_PER_DOC = 60        # budget = docs * this

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
FLAGS = ["A", "N", "R"]
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")


def key_offset(seed):
    """Disjoint key space per seed (the MakeSf1 key-offset scheme).  Keys
    stay below 1e9 so the portable id hash of the token-budget cut
    (doc_id * 2654435761 + 42, mod 1e9+7) neither overflows a BIGINT nor
    collides."""
    return (seed % 1000) * 100_000


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)
    return os.path.getsize(path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _orders(rng, n, off, n_cust, missing_share):
    keys = np.arange(1, n + 1, dtype=np.int64) + off
    cust = rng.integers(1, n_cust + 1, n).astype(np.int64)
    miss = rng.random(n) < missing_share
    cust[miss] = n_cust + 1 + rng.integers(0, n_cust, miss.sum())
    days = rng.integers(0, 2400, n)
    return {
        "o_orderkey": keys,
        "o_custkey": cust + off,
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 900.0, 400_000.0, n),
        "o_orderdate": EPOCH_1992 + days.astype("timedelta64[D]"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    }


def gen_feature(rng, off):
    o = _orders(rng, FEATURE_ORDERS, off, FEATURE_CUSTOMERS,
                MISSING_CUSTOMER_SHARE)
    nc, npart = FEATURE_CUSTOMERS, FEATURE_PARTS
    c = {
        "c_custkey": np.arange(1, nc + 1, dtype=np.int64) + off,
        "c_name": np.array([f"Customer#{i:09d}" for i in range(1, nc + 1)]),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    }
    p = {
        "p_partkey": np.arange(1, npart + 1, dtype=np.int64) + off,
        "p_name": np.array([f"part {i}" for i in range(1, npart + 1)]),
        "p_brand": np.array([f"Brand#{a}{b}" for a, b in zip(
            rng.integers(1, 6, npart), rng.integers(1, 6, npart))]),
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                            "ECONOMY", "PROMO"])[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": _money(rng, 900.0, 2100.0, npart),
    }
    lines = rng.integers(1, 8, FEATURE_ORDERS)
    n = int(lines.sum())
    okey = np.repeat(o["o_orderkey"], lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n) - starts + 1).astype(np.int32)
    part = rng.integers(1, npart + 1, n).astype(np.int64)
    miss = rng.random(n) < MISSING_PART_SHARE
    part[miss] = npart + 1 + rng.integers(0, npart, miss.sum())
    qty = rng.integers(1, 51, n).astype(np.float64)
    li = {
        "l_orderkey": okey,
        "l_partkey": part + off,
        "l_suppkey": rng.integers(1, 1001, n).astype(np.int64) + off,
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(FLAGS)[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": np.repeat(o["o_orderdate"], lines)
        + rng.integers(1, 122, n).astype("timedelta64[D]"),
    }
    # scramble physical row order so the pipeline's sort does real work
    perm = rng.permutation(n)
    li = {k: v[perm] for k, v in li.items()}
    tables = {"lineitem": li, "orders": o, "customer": c, "part": p}
    plants = {
        "orders_missing_customer_share": MISSING_CUSTOMER_SHARE,
        "lineitem_missing_part_share": MISSING_PART_SHARE,
    }
    keys = {
        "l_orderkey": int(np.unique(okey).size),
        "l_partkey": int(np.unique(part).size),
        "o_custkey": int(np.unique(o["o_custkey"]).size),
    }
    return tables, plants, keys


def gen_model(rng, off):
    o = _orders(rng, MODEL_ORDERS, off, 10_000, 0.0)
    return {"orders": o}, {}, {"o_orderkey": MODEL_ORDERS}


def _vocab(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = set()
    out = []
    for ln in lens:
        w = "".join(rng.choice(letters, ln))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _decorate(rng, toks):
    """Raw surface form: some capitals and trailing punctuation, which
    normalization removes."""
    out = []
    for t in toks:
        r = rng.random()
        if r < 0.05:
            t = t.capitalize()
        elif r < 0.08:
            t = t + (",", ".")[int(rng.integers(0, 2))]
        out.append(t)
    return out


def gen_corpus(rng, off):
    vocab = _vocab(rng, 30_000)
    nb = CORPUS_BASE_DOCS
    total = int(round(nb / (1.0 - EXACT_DUP_SHARE - NEAR_DUP_SHARE)))
    n_exact = int(round(total * EXACT_DUP_SHARE))
    n_near = total - nb - n_exact
    base = []
    for _ in range(nb):
        ln = int(rng.integers(40, 91))
        base.append([vocab[i] for i in rng.integers(0, len(vocab), ln)])
    texts = [_decorate(rng, t) for t in base]
    # exact duplicates: same tokens, different capitals/punctuation
    src_exact = rng.choice(nb, n_exact, replace=False)
    for s in src_exact:
        texts.append(_decorate(rng, base[s]))
    # near duplicates: one token replaced, from sources not exact-copied
    pool = np.setdiff1d(np.arange(nb), src_exact)
    src_near = rng.choice(pool, n_near, replace=False)
    for s in src_near:
        t = list(base[s])
        t[int(rng.integers(5, len(t) - 5))] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(_decorate(rng, t))
    n = len(texts)
    ids = rng.permutation(n).astype(np.int64) + 1 + off
    # contamination: copy an 8-token window of an eval document into
    # a training document
    is_eval = ids % EVAL_MOD == 0
    eval_idx = np.flatnonzero(is_eval)
    train_idx = np.flatnonzero(~is_eval)
    n_contam = int(round(n * CONTAM_SHARE))
    for d in rng.choice(train_idx, n_contam, replace=False):
        e = texts[int(rng.choice(eval_idx))]
        at = int(rng.integers(0, len(e) - WINDOW))
        pos = int(rng.integers(0, len(texts[d])))
        texts[d] = texts[d][:pos] + e[at:at + WINDOW] + texts[d][pos:]
    text = np.array([" ".join(t) for t in texts])
    docs = {
        "doc_id": ids,
        "text": text,
        "lang": np.array(["en"] * n),
        "source": np.array(["web", "books", "code", "wiki"])[ids % 4],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }
    plants = {
        "exact_dup_share": n_exact / n,
        "near_dup_share": n_near / n,
        "contaminated_share": n_contam / n,
        "eval_share": float(is_eval.mean()),
    }
    return {"documents": docs}, plants, {"doc_id": n}


GENERATORS = {
    "feature_pipeline": gen_feature,
    "model_fit": gen_model,
    "corpus_build": gen_corpus,
}


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, out_dir):
    """Write the tables and manifest for (workload, seed) into out_dir."""
    t0 = time.time()
    rng = np.random.default_rng([seed, len(workload)])
    tables, plants, keys = GENERATORS[workload](rng, key_offset(seed))
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows, sizes, files = {}, {}, []
    for name, cols in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        sizes[name] = _write(pa.table(cols), path)
        rows[name] = int(len(next(iter(cols.values()))))
        files.append(path)
    manifest = {
        "workload": workload,
        "seed": seed,
        "key_offset": key_offset(seed),
        "rows": rows,
        "bytes": sizes,
        "planted": plants,
        "distinct_keys": keys,
        "digest": _digest(files),
        "generate_s": round(time.time() - t0, 3),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return manifest


# ---------------------------------------------------------------- oracle

def _con(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
    return con


# Columns of the feature_pipeline output and how each enters the
# fingerprint.  The same select list runs over the oracle's result and
# over the parquet each op wrote.
FEATURE_COLUMNS = {
    "seq": "int", "l_orderkey": "int", "l_linenumber": "int",
    "l_partkey": "int", "custkey": "int",
    "l_quantity": "num", "l_extendedprice": "num", "net_price": "num",
    "prev_price": "num", "cum_qty": "num", "qty_rank": "num",
    "p_size": "int", "p_retailprice": "num", "c_acctbal": "num",
    "p_brand": "str", "c_mktsegment": "str",
    "flag_code": "int", "seg_code": "int",
    "seg_0": "num", "seg_1": "num", "seg_2": "num", "seg_3": "num",
    "seg_4": "num", "seg_5": "num", "qty_c": "num",
}


def fingerprint_sql(columns):
    """Order-independent aggregate over exact-valued columns.  Every
    double in the output is exact in both engines (copies, integers, or
    single IEEE products), so flooring at 1e-2 and summing as integers
    compares them exactly; `seq`-weighted sums check the row order.  The
    weights stay small so no Spark BIGINT sum can overflow."""
    parts = ["count(*) AS n"]
    for c, kind in columns.items():
        if kind == "int":
            parts.append(f"sum(CAST({c} AS BIGINT)) AS s_{c}")
            parts.append(f"sum(CAST({c} AS BIGINT) * (seq % 101)) AS w_{c}")
        elif kind == "num":
            v = f"CAST(floor({c} * 100) AS BIGINT)"
            parts.append(f"sum({v}) AS s_{c}")
            parts.append(f"sum({v} * (seq % 101)) AS w_{c}")
        else:
            parts.append(f"sum(length({c})) AS s_{c}")
            parts.append(f"count(DISTINCT {c}) AS d_{c}")
    return ", ".join(parts)


FEATURE_ORACLE = """
WITH lo AS (
  SELECT l.*, o.o_custkey AS custkey, o.o_totalprice, o.o_orderpriority
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
j AS (
  SELECT lo.*,
         COALESCE(c.c_acctbal, 0.0) AS c_acctbal,
         COALESCE(c.c_mktsegment, '') AS c_mktsegment,
         COALESCE(p.p_brand, '') AS p_brand,
         COALESCE(p.p_size, 0) AS p_size,
         COALESCE(p.p_retailprice, 0.0) AS p_retailprice
  FROM lo LEFT JOIN customer c ON lo.custkey = c.c_custkey
          LEFT JOIN part p ON lo.l_partkey = p.p_partkey),
s AS (
  SELECT *, row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1
            AS seq FROM j),
f AS (
  SELECT *,
    l_extendedprice * (1 - l_discount) AS net_price,
    COALESCE(lag(l_extendedprice) OVER w, -1.0) AS prev_price,
    sum(l_quantity) OVER (w ROWS UNBOUNDED PRECEDING) AS cum_qty,
    CAST(row_number() OVER w - 1 AS DOUBLE) AS qty_rank,
    CAST(l_quantity AS DOUBLE) AS qty_c
  FROM s WINDOW w AS (ORDER BY seq)),
e AS (
  SELECT f.*,
    CAST(dense_rank() OVER (ORDER BY l_returnflag) - 1 AS BIGINT)
      AS flag_code_raw
  FROM f),
segs AS (
  SELECT c_mktsegment AS v,
         CAST(row_number() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT) AS code
  FROM (SELECT DISTINCT c_mktsegment FROM e)),
out AS (
  SELECT e.*, e.flag_code_raw AS flag_code, segs.code AS seg_code
  FROM e JOIN segs ON e.c_mktsegment = segs.v)
SELECT *,
  CASE WHEN seg_code = 0 THEN 1.0 ELSE 0.0 END AS seg_0,
  CASE WHEN seg_code = 1 THEN 1.0 ELSE 0.0 END AS seg_1,
  CASE WHEN seg_code = 2 THEN 1.0 ELSE 0.0 END AS seg_2,
  CASE WHEN seg_code = 3 THEN 1.0 ELSE 0.0 END AS seg_3,
  CASE WHEN seg_code = 4 THEN 1.0 ELSE 0.0 END AS seg_4,
  CASE WHEN seg_code = 5 THEN 1.0 ELSE 0.0 END AS seg_5
FROM out
"""

# Profile of the encoded quantity column (functions.Stats.describe):
# the exact-valued fields of its output row.
FEATURE_PROFILE_ORACLE = """
SELECT count(l_quantity) AS n, min(l_quantity) AS min,
       max(l_quantity) AS max
FROM (SELECT * FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
"""


def oracle_feature(data_dir):
    con = _con(data_dir)
    con.execute(f"CREATE TEMP TABLE expected AS {FEATURE_ORACLE}")
    fp = con.execute(f"SELECT {fingerprint_sql(FEATURE_COLUMNS)} "
                     "FROM expected").fetchone()
    prof = con.execute(FEATURE_PROFILE_ORACLE).fetchone()
    return {"fingerprint": [int(x) for x in fp],
            "profile": [int(prof[0]), float(prof[1]), float(prof[2])]}


def fingerprint_written(con, out_dir):
    """The fingerprint of the table one feature_pipeline op wrote."""
    return [int(x) for x in con.execute(
        f"SELECT {fingerprint_sql(FEATURE_COLUMNS)} FROM "
        f"read_parquet('{os.path.join(out_dir, '*.parquet')}')").fetchone()]


def _portable_hash_sql(tok):
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(string_split({tok}, ''), "
            f"c -> CAST(ascii(c) AS BIGINT))), "
            f"(a, b) -> (a * 31 + b) % 1000000007)")


def bpe_encode_len(tok, ranks):
    """Greedy BPE: repeatedly merge every non-overlapping occurrence
    (left to right) of the lowest-rank adjacent pair."""
    syms = list(tok)
    while len(syms) >= 2:
        best = min((ranks.get((syms[i], syms[i + 1]), 1 << 62)
                    for i in range(len(syms) - 1)))
        if best == 1 << 62:
            break
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and ranks.get((syms[i], syms[i + 1])) == best:
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


CORPUS_STAGES = """
WITH d AS (
  SELECT doc_id, text,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
         ' +', ' ', 'g')) AS norm,
    (doc_id % {eval_mod} = 0) AS is_eval
  FROM documents WHERE text IS NOT NULL),
keeper AS (SELECT norm, min(doc_id) AS keep_id FROM d
           WHERE NOT is_eval GROUP BY norm),
s1 AS (SELECT d.doc_id, d.norm FROM d JOIN keeper k
       ON d.norm = k.norm AND d.doc_id = k.keep_id WHERE NOT d.is_eval),
w AS (SELECT doc_id, list_filter(string_split(norm, ' '), x -> x <> '') AS t
      FROM s1),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i + {n} - 1], ' ') AS g
       FROM (SELECT doc_id, t, unnest(range(1, len(t) - {n} + 2)) AS i FROM w)),
sz AS (SELECT doc_id, count(*) AS k FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
near AS (SELECT DISTINCT db AS doc_id FROM pairs
         JOIN sz za ON za.doc_id = da JOIN sz zb ON zb.doc_id = db
         WHERE CAST(inter AS DOUBLE) / CAST(za.k + zb.k - inter AS DOUBLE)
               >= {jmin}),
s2 AS (SELECT doc_id FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM near)),
toks AS (SELECT d.doc_id, unnest(list_filter(string_split(d.text, ' '),
                x -> x <> '')) AS tok
         FROM d JOIN s2 USING (doc_id)),
sc AS (SELECT doc_id, {icpt} + sum(({h} % 64) % 7 - 3) AS score
       FROM toks GROUP BY doc_id),
s3 AS (SELECT doc_id FROM sc WHERE score > 0),
rt AS (SELECT doc_id, is_eval,
         list_filter(string_split(text, ' '), x -> x <> '') AS t FROM d),
win AS (SELECT doc_id, is_eval, array_to_string(t[i:i + {win} - 1], ' ') AS g
        FROM (SELECT doc_id, is_eval, t,
                unnest(range(1, len(t) - {win} + 2)) AS i
              FROM rt WHERE len(t) >= {win})),
contam AS (SELECT DISTINCT a.doc_id FROM win a
           JOIN (SELECT DISTINCT g FROM win WHERE is_eval) e ON a.g = e.g
           WHERE NOT a.is_eval),
s4 AS (SELECT doc_id FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM contam))
SELECT d.doc_id, d.norm,
  CASE WHEN d.is_eval THEN 'eval'
       WHEN d.doc_id NOT IN (SELECT doc_id FROM s1) THEN 'dedup'
       WHEN d.doc_id NOT IN (SELECT doc_id FROM s2) THEN 'neardup'
       WHEN d.doc_id NOT IN (SELECT doc_id FROM s3) THEN 'quality'
       WHEN d.doc_id NOT IN (SELECT doc_id FROM s4) THEN 'decontam'
       ELSE NULL END AS early
FROM d
"""


def corpus_stage_sql():
    return CORPUS_STAGES.format(
        eval_mod=EVAL_MOD, n=SHINGLE_N, jmin=JACCARD_MIN,
        icpt=QUALITY_INTERCEPT, h=_portable_hash_sql("tok"), win=WINDOW)


def oracle_corpus(data_dir, merges):
    """Expected per-stage summary rows (stage, docs, id_sum, bpe_sum)."""
    con = _con(data_dir)
    con.execute(f"CREATE TEMP TABLE fate AS {corpus_stage_sql()}")
    ranks = {(a, b): i for i, (a, b) in enumerate(merges)}
    toks = con.execute(
        "SELECT DISTINCT unnest(list_filter(string_split(norm, ' '), "
        "x -> x <> '')) FROM fate WHERE early IS NULL").fetchall()
    sub = pa.table({
        "tok": pa.array([t for (t,) in toks], pa.string()),
        "n": pa.array([bpe_encode_len(t, ranks) for (t,) in toks], pa.int64())})
    con.register("sub", sub)
    n_docs = con.execute("SELECT count(*) FROM fate").fetchone()[0]
    budget = n_docs * TOKEN_BUDGET_PER_DOC
    rows = con.execute(f"""
      WITH bpe AS (
        SELECT doc_id, sum(sub.n) AS n_bpe FROM (
          SELECT doc_id, unnest(list_filter(string_split(norm, ' '),
                 x -> x <> '')) AS tok FROM fate WHERE early IS NULL) t
        JOIN sub USING (tok) GROUP BY doc_id),
      cum AS (
        SELECT doc_id, n_bpe, sum(n_bpe) OVER (
          ORDER BY (doc_id * 2654435761 + 42) % 1000000007
          ROWS UNBOUNDED PRECEDING) AS c FROM bpe),
      fin AS (
        SELECT f.doc_id,
          COALESCE(f.early, CASE WHEN c.c <= {budget} THEN 'kept'
                                 ELSE 'budget' END) AS stage,
          COALESCE(c.n_bpe, 0) AS n_bpe
        FROM fate f LEFT JOIN cum c USING (doc_id))
      SELECT stage, count(*), sum(doc_id), sum(n_bpe) FROM fin
      GROUP BY stage ORDER BY stage""").fetchall()
    return {"summary": [[s, int(n), int(i), int(b)] for s, n, i, b in rows],
            "budget": budget}
