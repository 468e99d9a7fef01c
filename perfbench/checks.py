"""Output checkers. Each computes its answer apart from graft: from the
generator's own record of what it planted, with DuckDB over the files the
program wrote, and with numpy / plain Python for the reference results.

`run(work)` loads a run's records and files and returns a list of
problems (empty when every check passes). The check_* functions take
plain data so tests can feed them planted faults.
"""
import collections
import decimal
import glob
import gzip
import json
import math
import os
import sys

import duckdb
import numpy as np

# recall@10 of the IVF-PQ probe (nprobe 8 of 32 cells, refine 200) against
# exact cosine top-10 must reach this. On these inputs it reads 0.88-0.95
# (README "Checks"), so a probe that gives up accuracy for speed (fewer
# cells, a shorter refine re-rank) fails here. The program's own floor for
# this probe fraction (IvfScaleSpec, q107) is 0.4, too loose to catch that.
RECALL_FLOOR = 0.8


# --------------------------------------------------------------- daily_backfill

def check_daily(expected, lines_per_day, outcomes, staged, quarantine, warehouse):
    """expected: generator records per date; outcomes: Backfill outcome per
    iteration; staged: date -> rows of the staged summary; quarantine:
    date -> quarantined raw lines; warehouse: rows of the Derby table."""
    problems = []
    exp = {e["date"]: e for e in expected}
    for e in expected:
        parsed_en = lines_per_day - len(e["corrupt"]) - e["non_en"] - e["retweets"]
        if e["positive"] + e["negative"] + e["na"] != parsed_en:
            problems.append(f"{e['date']}: generator labels do not add up to its en tweets")
    ran = set()
    for o in outcomes:
        e = exp[o["date"]]
        ran.add(o["date"])
        total = e["positive"] + e["negative"] + e["na"]
        if not o["ok"]:
            problems.append(f"iteration {o['iteration']} {o['date']}: outcome not ok: {o['error']}")
        if o["attempts"] != 1:
            # Backfill retries a day that throws; a retried day is a fault
            # that would otherwise show only as a slower day
            problems.append(f"iteration {o['iteration']} {o['date']}: took {o['attempts']} attempts")
        if o["summary_rows"] != total:
            problems.append(f"iteration {o['iteration']} {o['date']}: summarized "
                            f"{o['summary_rows']} tweets, generated {total}")
        if o["corrupt_lines"] != len(e["corrupt"]):
            problems.append(f"iteration {o['iteration']} {o['date']}: {o['corrupt_lines']} "
                            f"corrupt lines, planted {len(e['corrupt'])}")
        if o["gate_rows"] != 1:
            problems.append(f"iteration {o['iteration']} {o['date']}: gate saw {o['gate_rows']} rows")
    for d in sorted(ran):
        e = exp[d]
        rows = staged.get(d, [])
        want = (f"{d}(en)", e["positive"], e["negative"], e["na"])
        got = [(r["tweets_sentiment_id"], r["positive_count"], r["negative_count"], r["na_count"])
               for r in rows]
        if got != [want]:
            problems.append(f"{d}: staged summary {got}, expected [{want}]")
        if collections.Counter(quarantine.get(d, [])) != collections.Counter(e["corrupt"]):
            problems.append(f"{d}: quarantine holds {len(quarantine.get(d, []))} lines, "
                            f"planted {len(e['corrupt'])} (or they differ)")
    by_id = collections.defaultdict(list)
    for r in warehouse:
        by_id[r["id"]].append((r["positive"], r["negative"], r["na"]))
    if set(by_id) != {f"{d}(en)" for d in ran}:
        problems.append(f"warehouse keys {sorted(by_id)} != dates run {sorted(ran)}")
    for d in sorted(ran):
        e = exp[d]
        rows = by_id.get(f"{d}(en)", [])
        if rows != [(e["positive"], e["negative"], e["na"])]:
            problems.append(f"{d}: warehouse rows {rows}, expected one with "
                            f"{(e['positive'], e['negative'], e['na'])}")
    return problems


def _gz_json_lines(pattern):
    rows = []
    for p in sorted(glob.glob(pattern)):
        with gzip.open(p, "rt", encoding="utf-8") as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def load_daily(c):
    dates = sorted({o["date"] for o in c["outcomes"]})
    staged = {d: _gz_json_lines(os.path.join(c["staged_root"], f"{d}.jsonl", "part-*"))
              for d in dates}
    qroot = os.path.join(os.path.dirname(c["staged_root"]), "quarantine")
    quarantine = {d: [r["raw_line"] for r in _gz_json_lines(os.path.join(qroot, d, "part-*"))]
                  for d in dates}
    return dict(expected=c["expected"], lines_per_day=c["lines_per_day"],
                outcomes=c["outcomes"], staged=staged, quarantine=quarantine,
                warehouse=c["warehouse"])


# ------------------------------------------------------------------ index_grow
# Every iteration appends the same batches to the same base state, so the
# indexes hold every generated vector and document, and every iteration's
# probes must give the same answers.

def check_index_ids(id_counts, expected_ids):
    """id_counts: id -> rows holding it in the grown IVF-PQ index."""
    problems = []
    missing = set(expected_ids) - set(id_counts)
    extra = set(id_counts) - set(expected_ids)
    twice = [i for i, n in id_counts.items() if n != 1]
    if missing:
        problems.append(f"{len(missing)} appended ids are missing from the index")
    if extra:
        problems.append(f"{len(extra)} ids in the index were never appended")
    if twice:
        problems.append(f"{len(twice)} ids are held more than once, e.g. {sorted(twice)[:3]}")
    return problems


def check_applied(applied, batch_rows):
    problems = []
    for i, it in enumerate(applied):
        if any(n != batch_rows for n in it):
            problems.append(f"iteration {i}: applied rows per batch {it}, offered {batch_rows} each")
    return problems


def exact_top_k(vectors, ids, queries, k):
    v = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = np.round(q @ v.T, 6)
    order = np.lexsort((np.broadcast_to(ids, sims.shape), -sims), axis=1)
    return ids[order[:, :k]]


def recall(rows, vectors, ids, queries, query_ids, k):
    """rows: [(query_id, rank, neighbor_id)] of one probe."""
    got = collections.defaultdict(set)
    for q, _, n in rows:
        got[q].add(n)
    truth = exact_top_k(vectors, ids, queries, k)
    hits = sum(len(got[q] & set(truth[j].tolist())) for j, q in enumerate(query_ids))
    return hits / (k * len(query_ids))


def check_ann(results, vectors, ids, queries, query_ids, k, floor=RECALL_FLOOR):
    """results: per iteration, [(query_id, rank, neighbor_id)] of the probe
    over the grown index, which holds every row of `vectors`."""
    if not results:
        return ["no ANN probe results"]
    problems = []
    rows = results[0]
    if any(r != rows for r in results[1:]):
        problems.append("ANN results differ between iterations")
    got = collections.defaultdict(list)
    for q, _, n in sorted(rows, key=lambda x: (x[0], x[1])):
        got[q].append(n)
    known = set(ids.tolist())
    if set(got) != set(query_ids):
        problems.append(f"ANN answered {len(got)} of {len(query_ids)} queries")
    for q, ns in got.items():
        if len(ns) != k or len(set(ns)) != k or not set(ns) <= known:
            problems.append(f"query {q}: {len(ns)} neighbours, not {k} distinct indexed ids")
            break
    r = recall(rows, vectors, ids, queries, query_ids, k)
    if r < floor:
        problems.append(f"recall@{k} {r:.3f} is below the floor {floor}")
    return problems


def _round4(x):
    # Spark's round(): BigDecimal of the double's decimal string, HALF_UP
    return float(decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.0001"),
                                                   rounding=decimal.ROUND_HALF_UP))


def bm25_top_k(docs, terms, k, k1, b):
    """Okapi BM25 over `docs` (doc_id -> text), with the program's operation
    order, rounded to 4 places; ranked by score desc, doc_id asc."""
    toks = {d: t.split(" ") for d, t in docs.items()}
    n = len(toks)
    tt = sum(len(t) for t in toks.values())
    tf = {d: [t.count(term) for term in terms] for d, t in toks.items()}
    df = [sum(1 for d in tf if tf[d][i] > 0) for i in range(len(terms))]
    scored = []
    for d, f in tf.items():
        if sum(f) == 0:
            continue
        dl = len(toks[d])
        s = 0.0
        for i, x in enumerate(f):
            idf = math.log(1.0 + ((n - df[i]) + 0.5) / (df[i] + 0.5))
            s = s + (idf * (x * (k1 + 1.0))) / (x + k1 * ((1.0 - b) + ((b * dl) * n) / tt))
        scored.append((_round4(s), d))
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [(d, s) for s, d in scored[:k]]


def check_bm25(results, docs, query_terms, k, k1, b):
    """results: per iteration, per query, [(doc_id, score, rank)] from the
    grown index, which holds every document of `docs` (doc_id -> text)."""
    if not results:
        return ["no BM25 probe results"]
    problems = []
    for q, terms in enumerate(query_terms):
        want = bm25_top_k(docs, terms, k, k1, b)
        for i, it in enumerate(results):
            got = [(d, s) for d, s, _ in sorted(it[q], key=lambda x: x[2])]
            if [d for d, _ in got] != [d for d, _ in want] or any(
                    abs(s - w) > 1e-9 for (_, s), (_, w) in zip(got, want)):
                problems.append(f"BM25 {terms} in iteration {i}: top-{k} {got[:3]}... "
                                f"!= reference {want[:3]}...")
    return problems


def load_index(c):
    inputs = collections.defaultdict(list)
    with open(c["inputs"]) as f:
        for line in f:
            r = json.loads(line)
            inputs[r["kind"]].append((r["id"], r["value"]))
    vec = sorted(inputs["vector"])
    qs = sorted(inputs["query"])
    con = duckdb.connect()
    id_counts = dict(con.execute(
        f"SELECT id, count(*) FROM read_parquet('{c['ann_index']}/cell=*/*.parquet') "
        "GROUP BY id").fetchall())
    bm25_n = con.execute(
        f"SELECT n FROM read_parquet('{c['bm25_index']}/_stats/*.parquet')").fetchall()
    return dict(
        id_counts=id_counts,
        vectors=np.array([v for _, v in vec], dtype=np.float64),
        ids=np.array([i for i, _ in vec], dtype=np.int64),
        queries=np.array([v for _, v in qs], dtype=np.float64), query_ids=[i for i, _ in qs],
        docs=dict(inputs["doc"]), bm25_n=[r[0] for r in bm25_n])


def check_index(c, d):
    """The grown indexes left by the last iteration, and every iteration's
    applied counts and probe results."""
    problems = check_index_ids(d["id_counts"], d["ids"].tolist())
    problems += check_applied(c["applied"], c["batch_rows"])
    if d["bm25_n"] != [len(d["docs"])]:
        problems.append(f"BM25 index stats count {d['bm25_n']} docs, {len(d['docs'])} appended")
    ann = [[tuple(r) for r in it] for it in c["ann"]]
    if ann:
        r = recall(ann[0], d["vectors"], d["ids"], d["queries"], d["query_ids"], c["top_k"])
        print(f"perfbench: ANN recall@{c['top_k']} {r:.3f}", file=sys.stderr)
    problems += check_ann(ann, d["vectors"], d["ids"], d["queries"], d["query_ids"], c["top_k"])
    bm = [[[tuple(r) for r in q] for q in it] for it in c["bm25"]]
    problems += check_bm25(bm, d["docs"], c["query_terms"], c["top_k"], c["k1"], c["b"])
    return problems


# ------------------------------------------------------------------------- run

def run(work):
    with open(os.path.join(work, "check.json")) as f:
        c = json.load(f)
    w = c["workload"]
    if w == "daily_backfill":
        return check_daily(**load_daily(c))
    if w == "index_grow":
        return check_index(c, load_index(c))
    return [f"unknown workload {w}"]
