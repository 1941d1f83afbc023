"""Seeded input generator for the graft benchmark.

Everything a workload reads is made here from `--seed`: the same seed and
size give byte-identical parquet files and streams. Sizes and
distributions do not depend on the seed, so two seeds differ only in
content, never in how much work they ask for.

    python3 graftbench/gen.py --workload corpus_batch --seed 7 --out DIR

writes DIR/inputs.json (sizes and planted counts) next to the files the
workload reads.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. `small` is the smoke-check size.
SIZES = {
    "full": dict(orders=15000, lines_per_order=4, customers=1500, parts=2000,
                 suppliers=100, events=10000, sql_instances=2000,
                 corpus_docs=3000, eval_docs=200),
    "small": dict(orders=1500, lines_per_order=4, customers=150, parts=200,
                  suppliers=20, events=1000, sql_instances=400,
                  corpus_docs=600, eval_docs=40),
}

STOP_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]
STOP_OTHER = {
    "es": ["el", "la", "de", "que", "y", "un", "una", "los"],
    "fr": ["le", "les", "des", "et", "une", "est", "dans", "pour"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
}
DIM = 64


def write(path, cols):
    pq.write_table(pa.table(cols), path)


def file_bytes(*paths):
    return sum(os.path.getsize(p) for p in paths)


class Text:
    """Zipfian word source: English stopwords hold the top ranks, the rest
    are seeded pseudo-words."""

    def __init__(self, rng, vocab=6000):
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words, seen = [], set(STOP_EN)
        for w in STOP_OTHER.values():
            seen.update(w)
        while len(words) < vocab - len(STOP_EN):
            w = "".join(rng.choice(letters, rng.integers(3, 10)))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = np.array(STOP_EN + words)
        p = 1.0 / np.arange(1, vocab + 1) ** 1.05
        self.p = p / p.sum()
        self.rng = rng

    def tokens(self, n):
        return list(self.words[self.rng.choice(len(self.words), n, p=self.p)])

    def doc(self, lo=90, hi=160):
        return self.tokens(int(self.rng.integers(lo, hi)))

    def near_copy(self, toks, subs):
        out = list(toks)
        for i in self.rng.choice(len(out), subs, replace=False):
            out[i] = self.words[self.rng.integers(len(STOP_EN), len(self.words))]
        return out


class Vecs:
    """Clustered 64-d embeddings."""

    def __init__(self, rng, clusters=24):
        self.centers = rng.normal(0, 1, (clusters, DIM))
        self.rng = rng

    def draw(self, n):
        c = self.rng.integers(0, len(self.centers), n)
        return (self.centers[c] + self.rng.normal(0, 0.5, (n, DIM))).astype(np.float32)

    def jitter(self, v):
        return (v + self.rng.normal(0, 0.01, v.shape)).astype(np.float32)


def vec_col(v):
    return pa.array(list(v), type=pa.list_(pa.float32()))


# ---------------------------------------------------------------- sql

def gen_sql(rng, s, out):
    t = os.path.join(out, "tables")
    os.makedirs(t)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write(f"{t}/region.parquet", {"r_regionkey": pa.array(range(5), pa.int32()),
                                  "r_name": regions})
    write(f"{t}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, npart, ns, no = s["customers"], s["parts"], s["suppliers"], s["orders"]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write(f"{t}/customer.parquet", {
        "c_custkey": pa.array(range(1, nc + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": list(rng.choice(segs, nc))})
    write(f"{t}/supplier.parquet", {
        "s_suppkey": pa.array(range(1, ns + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2)})
    write(f"{t}/part.parquet", {
        "p_partkey": pa.array(range(1, npart + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, npart + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, npart)],
        "p_type": list(rng.choice(["STEEL", "BRASS", "TIN", "COPPER"], npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, npart), 2)})
    day = np.timedelta64(1, "D")
    base = np.datetime64("1992-01-01T00:00:00", "us")
    odate = base + rng.integers(0, 2400, no) * day
    write(f"{t}/orders.parquet", {
        "o_orderkey": pa.array(range(1, no + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, nc + 1, no), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": np.round(rng.uniform(1000, 450000, no), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no))})
    nl = no * s["lines_per_order"]
    lorder = np.repeat(np.arange(1, no + 1), s["lines_per_order"])
    write(f"{t}/lineitem.parquet", {
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, npart + 1, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, ns + 1, nl), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, s["lines_per_order"] + 1), no),
                                 pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": list(rng.choice(["F", "O"], nl)),
        "l_shipdate": pa.array(odate[lorder - 1] + rng.integers(1, 122, nl) * day,
                               pa.timestamp("us"))})
    ne = s["events"]
    ets = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.sort(rng.integers(0, 90 * 86400 * 10**6, ne)) * np.timedelta64(1, "us")
    ks, hosts = rng.integers(0, 100, ne), rng.integers(0, 12, ne)
    write(f"{t}/events.parquet", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, nc + 1, ne), pa.int64()),
        "event_type": list(rng.choice(["click", "view", "error", "buy"], ne)),
        "value": np.round(rng.uniform(0, 100, ne), 2),
        "props": [json.dumps({"k": int(k), "url": f"https://h{h}.example.com/p/{i}?u={k}"})
                  for i, (k, h) in enumerate(zip(ks, hosts))]})
    stream = sql_stream(rng, s)
    with open(os.path.join(out, "sql_stream.json"), "w") as f:
        json.dump(stream, f)
    files = [os.path.join(t, x) for x in os.listdir(t)]
    return {"input_bytes": file_bytes(*files), "tables": len(files),
            "rows": no + nl + nc + npart + ns + ne + 30,
            "instances": len(stream), "cycle": len(SQL_CYCLE),
            "repeats": sum(1 for x in stream if x["repeat"])}


# Each template is (graft SQL, DuckDB SQL, parameter maker). `$vars` go
# through the Engine's dialect shim on the graft side and DuckDB's named
# parameters on the oracle side. Namespaces `tpch` and `logs` are two
# Catalog databases; the oracle sees the same parquet files as views.
SQL_TEMPLATES = {
    "join6": ("""SELECT n.n_name, count(*) AS n,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM tpch.customer c
JOIN tpch.orders o ON c.c_custkey = o.o_custkey
JOIN tpch.lineitem l ON l.l_orderkey = o.o_orderkey
JOIN tpch.supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN tpch.nation n ON s.s_nationkey = n.n_nationkey
JOIN tpch.region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{region}' AND o.o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '{y1}-01-01 00:00:00'
GROUP BY n.n_name""", None,
              lambda r: {"region": r.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                             "MIDDLE EAST"]),
                         "y": (y := int(r.integers(1992, 1998))), "y1": y + 1}),
    "distinct_on": ("""SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
FROM tpch.customer WHERE c_mktsegment = $seg AND c_acctbal > $bal
ORDER BY c_nationkey, c_acctbal DESC, c_custkey""", None,
                    lambda r: {"$seg": str(r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                     "HOUSEHOLD", "MACHINERY"])),
                               "$bal": float(r.integers(-900, 5000))}),
    "qualify": ("""SELECT o_custkey, o_orderkey, o_totalprice,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM tpch.orders WHERE o_custkey % {m} = {r}
QUALIFY rn <= {k}""", None,
                lambda r: {"m": (m := int(r.integers(20, 60))),
                           "r": int(r.integers(0, m)), "k": int(r.integers(1, 4))}),
    "vars": ("""SELECT o_orderpriority, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
FROM tpch.orders WHERE o_totalprice > $min_price AND o_orderstatus = $status
GROUP BY o_orderpriority""", None,
             lambda r: {"$min_price": float(r.integers(1000, 400000)),
                        "$status": str(r.choice(["F", "O", "P"]))}),
    "cte_window": ("""WITH q AS (
  SELECT l_orderkey, sum(l_quantity) AS qty FROM tpch.lineitem
  WHERE l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00' AND l_returnflag = '{f}'
  GROUP BY l_orderkey)
SELECT o.o_custkey, sum(q.qty) AS qty,
       rank() OVER (ORDER BY sum(q.qty) DESC, o.o_custkey) AS rk
FROM q JOIN tpch.orders o ON o.o_orderkey = q.l_orderkey
GROUP BY o.o_custkey
ORDER BY rk LIMIT {lim}""", None,
                   lambda r: {"y": int(r.integers(1992, 1998)),
                              "f": str(r.choice(["A", "N", "R"])),
                              "lim": int(r.integers(5, 30))}),
    "federation": ("""SELECT n.n_name, e.event_type, count(*) AS n, round(sum(e.value), 2) AS total
FROM logs.events e
JOIN tpch.customer c ON e.user_id = c.c_custkey
JOIN tpch.nation n ON n.n_nationkey = c.c_nationkey
WHERE e.event_type = '{et}' AND c.c_acctbal > {bal}
GROUP BY n.n_name, e.event_type""", None,
                   lambda r: {"et": str(r.choice(["click", "view", "error", "buy"])),
                              "bal": int(r.integers(-900, 8000))}),
    "builtins": ("""SELECT strftime(ts, '%Y-%m') AS ym,
       urlparse(jp(props, 'url'), 'host') AS host,
       count(*) AS n, sum(CAST(jp(props, 'k') AS INT)) AS k
FROM logs.events WHERE user_id % {m} = {r}
GROUP BY 1, 2""",
                 """SELECT strftime(ts, '%Y-%m') AS ym,
       regexp_extract(json_extract_string(props, '$.url'), '^[a-z]+://([^/:?#]+)', 1) AS host,
       count(*) AS n, sum(CAST(json_extract_string(props, '$.k') AS INT)) AS k
FROM logs.events WHERE user_id % {m} = {r}
GROUP BY 1, 2""",
                 lambda r: {"m": (m := int(r.integers(3, 12))), "r": int(r.integers(0, m))}),
    # the saved-result statement: an analyst keeps a result by appending
    # it to a parquet table, which is the workload's store write
    "save": ("""INSERT INTO saved.results
SELECT {qid} AS qid, o_orderpriority AS k, count(*) AS n
FROM tpch.orders WHERE o_custkey % {m} = {r} GROUP BY o_orderpriority""",
             """SELECT {qid} AS qid, o_orderpriority AS k, count(*) AS n
FROM tpch.orders WHERE o_custkey % {m} = {r} GROUP BY o_orderpriority""",
             lambda r: {"m": (m := int(r.integers(5, 40))), "r": int(r.integers(0, m))}),
}
# The stream cycles through this fixed template order (weights 3:2:...:3
# for join6:...:save), so every seed runs the same mix and the same
# write share; the seed draws each statement's parameters. At three
# fixed positions in ten, the statement repeats the text of an earlier
# statement of the same template. The first WARMUP_CYCLES cycles are the
# session's warm-up and are not timed: the first cycle runs cold. The run
# time goes to the timed cycles instead of more warm-up, because the host's
# speed drifts over seconds and a longer timed window averages more of it.
SQL_CYCLE = ["join6", "distinct_on", "save", "qualify", "vars", "join6", "cte_window",
             "federation", "save", "builtins", "join6", "distinct_on", "qualify", "save",
             "vars", "cte_window", "federation", "builtins"]
REPEAT_SLOTS = {3, 6, 9}
WARMUP_CYCLES = 1


def sql_stream(rng, s):
    out, seen = [], {}
    for i in range(s["sql_instances"]):
        name = SQL_CYCLE[i % len(SQL_CYCLE)]
        if i % 10 in REPEAT_SLOTS and name in seen:
            prev = seen[name][int(rng.integers(0, len(seen[name])))]
            out.append(dict(prev, id=i, repeat=True, warmup=i < WARMUP_CYCLES * len(SQL_CYCLE)))
            continue
        graft_sql, duck_sql, mk = SQL_TEMPLATES[name]
        p = mk(rng)
        if name == "save":
            p["qid"] = i
        fmt = {k: v for k, v in p.items() if not k.startswith("$")}
        vars_ = {k[1:]: v for k, v in p.items() if k.startswith("$")}
        out.append({"id": i, "template": name, "repeat": False,
                    "warmup": i < WARMUP_CYCLES * len(SQL_CYCLE),
                    "sql": graft_sql.format(**fmt),
                    "duck_sql": (duck_sql or graft_sql).format(**fmt),
                    "vars": vars_, "write": name == "save", "text_id": i})
        seen.setdefault(name, []).append(out[-1])
    return out


# ------------------------------------------------------------- corpus

def corpus_docs(rng, tx, vx, n, evals):
    """n documents with planted exact duplicates, near duplicates, eval-set
    contamination, semantic-only duplicates, non-English and low-quality
    documents; returns (token lists, vectors, planted ids)."""
    toks, vecs = [None] * n, vx.draw(n)
    kind = rng.choice(["base", "exact", "near", "contam", "sem", "lang", "lowq"], n,
                      p=[0.78, 0.03, 0.08, 0.02, 0.03, 0.03, 0.03])
    kind[:20] = "base"  # duplicates copy an earlier base document
    planted = {"near_pairs": [], "exact_pairs": [], "sem_pairs": [],
               "contaminated": [], "lang": [], "lowq": []}
    bases = []
    for i in range(n):
        k = kind[i]
        if k in ("exact", "near", "sem"):
            src = bases[int(rng.integers(0, len(bases)))]
            if k == "exact":
                toks[i] = [t.upper() if j == 0 else t for j, t in enumerate(toks[src])]
                vecs[i] = vecs[src]
                planted["exact_pairs"].append([src, i])
            elif k == "near":
                toks[i] = tx.near_copy(toks[src], max(1, len(toks[src]) // 50))
                vecs[i] = vx.jitter(vecs[src])
                planted["near_pairs"].append([src, i])
            else:
                toks[i] = tx.doc()
                vecs[i] = vx.jitter(vecs[src])
                planted["sem_pairs"].append([src, i])
        elif k == "contam":
            d, e = tx.doc(), evals[int(rng.integers(0, len(evals)))]
            at, span = int(rng.integers(0, len(d))), int(rng.integers(0, len(e) - 20))
            toks[i] = d[:at] + e[span:span + 20] + d[at:]
            planted["contaminated"].append(i)
        elif k == "lang":
            lang = str(rng.choice(list(STOP_OTHER)))
            d = tx.doc()
            for j in range(0, len(d), 3):
                d[j] = STOP_OTHER[lang][int(rng.integers(0, 8))]
            toks[i] = d
            planted["lang"].append(i)
        elif k == "lowq":
            toks[i] = ["".join(rng.choice(list("!?#$%&*+=<>@^~|"), int(rng.integers(3, 8))))
                       for _ in range(int(rng.integers(20, 60)))]
            planted["lowq"].append(i)
        else:
            toks[i] = tx.doc()
            bases.append(i)
    return toks, vecs, planted


def gen_corpus(rng, s, out):
    """The corpus and the eval set; planted ids go to planted.json."""
    tx, vx = Text(rng), Vecs(rng)
    evals = [tx.doc(60, 100) for _ in range(s["eval_docs"])]
    c = os.path.join(out, "corpus")
    os.makedirs(c)
    n = s["corpus_docs"]
    toks, vecs, planted = corpus_docs(rng, tx, vx, n, evals)
    write(f"{c}/docs.parquet", {"doc_id": pa.array(range(n), pa.int64()),
                                "text": [" ".join(t) for t in toks],
                                "vec": vec_col(vecs)})
    write(f"{c}/eval.parquet", {"doc_id": pa.array(range(10**9, 10**9 + len(evals)), pa.int64()),
                                "text": [" ".join(t) for t in evals]})
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump(planted, f)
    return {"input_bytes": file_bytes(f"{c}/docs.parquet", f"{c}/eval.parquet"),
            "docs": n, "eval_docs": len(evals),
            "tokens": int(sum(len(t) for t in toks)),
            **{f"planted_{k}": len(v) for k, v in planted.items()}}


GENERATORS = {"sql_interactive": gen_sql, "corpus_batch": gen_corpus}


def generate(workload, seed, out, size="full"):
    rng = np.random.default_rng([seed, list(GENERATORS).index(workload)])
    os.makedirs(out, exist_ok=True)
    info = GENERATORS[workload](rng, SIZES[size], out)
    info.update(workload=workload, seed=seed, size=size)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f)
    return info


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", default="full", choices=list(SIZES))
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out, a.size)))
