#!/usr/bin/env python3
"""Adversarial oracle sweeps: regenerate pathological variants of the
testdata and run the full DuckDB compare against each (the robustness
gate beyond the driver's standard sf0.01 check — see PLANS.md
"Adversarial oracle sweeps").

Usage: python3 scripts/adversarial.py [sfBase]   (default sf0.001)
Set ADVERSARIAL_JSON=<path> to also record per-sweep verdicts in a
JSON file.

Each sweep copies sfBase and replaces ONE table family:
  docs   — 1..25-char texts (below shingle length), whitespace-collapse,
           punctuation runs, degenerate repeated words
  dups   — 60% of docs in copy/near-copy cliques (multi-node CC, hot
           LSH buckets)
  events — null-user groups, single-row group, identical-ts bursts,
           identical-value groups, 1e15 outliers, malformed-JSON props
  emb    — zero vectors, exact-duplicate + antiparallel pairs
  tpc    — one custkey with 50% of orders (skew), dangling orderkeys,
           zero/negative prices
  hotskew— boilerplate skew: one phrase planted in ~50% of docs (the
           r16 MinHash-family failure shape); besides the full compare,
           asserts per-family max bucket population bounds on the
           h01_lsh_bucket_audit dump — a magnitude-preserving hash
           family regression fails THIS gate instead of waiting for a
           10x validation tier to notice quadratic candidates
"""
import datetime
import json
import os
import random
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the checkout this script belongs to (scripts/..), wherever it lives
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
LANGS = ["en", "de", "fr", "es", "zh"]


def base_copy(name):
    dst = f"/tmp/graft_adv_{name}"
    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SF):
        if f.endswith(".parquet"):
            shutil.copy(f"{SF}/{f}", f"{dst}/{f}")
    return dst


def write_docs(dst, docs):
    t = pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array([LANGS[i % 5] for i in range(len(docs))], pa.string()),
        "source": pa.array([f"src{i % 5}" for i in range(len(docs))], pa.string()),
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})
    pq.write_table(t, f"{dst}/documents.parquet")


def sweep_docs():
    random.seed(8)
    dst = base_copy("docs")
    words = ["key", "agg", "row", "scan", "slow", "fast", "table", "value",
             "part", "hash", "a", "the"]
    docs = []
    for i in range(30):  # below the 20-char shingle length
        n = i % 25 + 1
        docs.append("".join(random.choice("abcdefg ") for _ in range(n)).strip() or "x")
    for _ in range(10):  # whitespace-heavy: norm collapses hard
        docs.append("   ".join(random.choice(words) for _ in range(3)))
    docs.append("   ")       # whitespace-ONLY: normalized text is empty —
    docs.append(" \t\n\t ")  # the winnow/shingle hash-of-nothing edge
    for _ in range(10):  # punctuation/symbol heavy
        docs.append(" ".join(random.choice(["###", "...", "a.b", "x!?", ";;;", "1e9"])
                             for _ in range(8)))
    for i in range(5):   # degenerate repeated word
        docs.append(("spam " * (i + 2)).strip())
    for _ in range(45):  # normal-ish so joins/aggs are non-trivial
        docs.append(" ".join(random.choice(words) for _ in range(random.randint(8, 60))))
    write_docs(dst, docs)
    return dst


def sweep_dups():
    random.seed(13)
    dst = base_copy("dups")
    words = ["key", "agg", "row", "scan", "slow", "fast", "table", "value",
             "part", "hash"]
    bases = [" ".join(random.choice(words) for _ in range(30)) for _ in range(6)]
    docs = []
    for i in range(60):
        b = bases[i % 6]
        docs.append(b if i < 30 else b + " tail" + str(i % 3))
    for i in range(40):
        docs.append(" ".join(random.choice(words)
                             for _ in range(random.randint(10, 40))) + f" uniq{i}")
    write_docs(dst, docs)
    return dst


def write_docs_sources(dst, docs, sources):
    t = pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array([LANGS[i % 5] for i in range(len(docs))], pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})
    pq.write_table(t, f"{dst}/documents.parquet")


def sweep_boiler():
    """x36/x37 degenerate corpus: docs whose EVERY line is boilerplate
    (cleaned must be ''), shared lines at df exactly 4 (below minDocs=5,
    kept) and exactly 5 (struck), ONE stratum for x37 so the whole
    corpus is a single running sum, and docs fatter than the 600-token
    budget so the stratum admits nothing past the first hash."""
    random.seed(21)
    dst = base_copy("boiler")
    docs = []
    # 10 docs that are ONLY furniture: identical nav + footer, nothing else
    for _ in range(10):
        docs.append("nav home about\ncopyright footer")
    # a line shared by exactly 4 docs (df 4 < minDocs 5 → must SURVIVE)
    for i in range(4):
        docs.append(f"df-four shared line\nunique body {i}")
    # a line shared by exactly 5 docs (df 5 == minDocs → must be struck)
    for i in range(5):
        docs.append(f"df-five shared line\nother body {i}")
    # fat docs: each alone exceeds x37's 600-token budget
    for i in range(3):
        docs.append(" ".join(f"fat{i}w{j}" for j in range(700)))
    # a handful of small normal docs so x37 admits SOMETHING if hash
    # order puts one first
    for i in range(8):
        docs.append(" ".join(random.choice(["p", "q", "r", "s"]) for _ in range(5))
                    + f" tiny{i}")
    write_docs_sources(dst, docs, ["src0"] * len(docs))  # one stratum
    return dst


def sweep_onedoc():
    """Single-document corpus: below x36's minDocs (nothing can be
    boilerplate — everything survives), a one-doc stratum for x37, and
    the 1-row edge for every dedup/clustering operator."""
    dst = base_copy("onedoc")
    write_docs_sources(dst, ["only doc line one\nonly doc line two"], ["src0"])
    return dst


def sweep_events():
    random.seed(5)
    dst = base_copy("events")
    ets = ["click", "view", "purchase", "signup", "error"]
    base = pd.Timestamp("2024-01-01")
    rows = []

    def add(et, uid, val, ts, props='{"k": 1}'):
        rows.append((len(rows), ts, uid, et, val, props))

    for j in range(400):
        add(ets[j % 5], random.randint(1, 20), round(random.uniform(-50, 500), 2),
            base + pd.Timedelta(seconds=j * 61 + random.randint(0, 50)))
    for j in range(20):  # all-NULL-user group
        add("nullonly", None, 1.0 + j, base + pd.Timedelta(minutes=j))
    add("single", 7, 42.42, base + pd.Timedelta(days=1))  # single-row group
    for _ in range(15):  # identical ts AND value
        add("click", 3, 99.99, base + pd.Timedelta(hours=2))
    for j in range(10):  # interleaved nulls, negative zero
        add("view", None if j % 2 else 4, -0.0, base + pd.Timedelta(hours=3, seconds=j))
    add("purchase", 5, 1e15, base + pd.Timedelta(hours=4))
    add("purchase", 5, -1e15, base + pd.Timedelta(hours=4, seconds=1))
    for j in range(5):   # malformed JSON props
        add("error", 6, 0.005, base + pd.Timedelta(hours=5, seconds=j), "not json at all")
    df = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type",
                                     "value", "props"])
    df["ts"] = df["ts"].astype("datetime64[ns]")
    t = pa.Table.from_pandas(df, preserve_index=False)
    t = t.set_column(2, "user_id", t.column("user_id").cast(pa.int64()))
    pq.write_table(t, f"{dst}/events.parquet")
    return dst


def sweep_emb():
    random.seed(3)
    dst = base_copy("emb")

    def rnd():
        return [random.uniform(-1, 1) for _ in range(64)]

    vecs = [rnd() for _ in range(20)]
    vecs += [[0.0] * 64] * 3           # zero vectors → guarded cosine
    b = rnd()
    vecs += [b, b[:]]                  # exact duplicate pair
    vecs += [[-x for x in b]]          # antiparallel
    eps = b[:]
    eps[0] += 1e-4
    vecs += [eps]                      # near-dup just off exact
    while len(vecs) < 73:
        vecs.append(rnd())
    t = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array([[float(f"{x:.6g}") for x in v] for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array([i % 4 for i in range(len(vecs))], pa.int32())})
    pq.write_table(t, f"{dst}/embeddings.parquet")
    return dst


def sweep_tpc():
    random.seed(7)
    dst = base_copy("tpc")
    ord0 = pq.read_table(f"{SF}/orders.parquet").to_pandas()
    li0 = pq.read_table(f"{SF}/lineitem.parquet").to_pandas()
    d0 = ord0["o_orderdate"].iloc[0]
    rows = []
    for i in range(300):  # 50% of orders on one hot custkey
        ck = 1 if i < 150 else random.randint(2, 20)
        rows.append((i + 1, ck, random.choice(["O", "F", "P"]),
                     random.choice([0.0, -5.0, 1e7, round(random.uniform(1, 9e4), 2)]),
                     d0 + datetime.timedelta(days=i % 7), "1-URGENT"))
    odf = pd.DataFrame(rows, columns=list(ord0.columns)).astype(ord0.dtypes.to_dict())
    pq.write_table(pa.Table.from_pandas(odf, preserve_index=False),
                   f"{dst}/orders.parquet")
    sd0 = li0["l_shipdate"].iloc[0]
    lrows = []
    for i in range(500):  # orderkeys 301..400 dangle (no order row)
        ok = random.randint(1, 400)
        lrows.append((ok, random.randint(1, 50), random.randint(1, 10), i % 7 + 1,
                      random.choice([0.0, 1.0, 50.0]), round(random.uniform(1, 9e4), 2),
                      random.choice([0.0, 0.05, 0.1]), 0.04,
                      random.choice(["A", "N", "R"]), random.choice(["O", "F"]),
                      sd0 + datetime.timedelta(days=i % 30)))
    ldf = pd.DataFrame(lrows, columns=list(li0.columns)).astype(li0.dtypes.to_dict())
    pq.write_table(pa.Table.from_pandas(ldf, preserve_index=False),
                   f"{dst}/lineitem.parquet")
    return dst


def sweep_hotskew():
    """r16-verdict standing gate: ONE boilerplate phrase planted into
    ~50% of docs (each doc otherwise unique). A healthy MinHash family
    keeps band buckets clique-sized on this corpus; the r16
    magnitude-preserving multiplier family would put every boilerplate
    doc into one bucket per band (quadratic candidate generation). The
    post-check below asserts max bucket populations per family on the
    h01_lsh_bucket_audit dump."""
    random.seed(29)
    dst = base_copy("hotskew")
    vocab = [f"w{i}term" for i in range(240)]
    boiler = ("subscribe to our newsletter for updates and exclusive "
              "member offers delivered every single morning")
    docs = []
    for i in range(200):
        body = [random.choice(vocab) for _ in range(random.randint(15, 40))]
        if i % 2 == 0:
            pos = random.randint(0, len(body))
            docs.append(" ".join(body[:pos] + [boiler] + body[pos:]))
        else:
            docs.append(" ".join(body) + f" uniq{i}")
    write_docs(dst, docs)
    return dst


def check_hotskew(out_dir):
    """Per-family max-bucket bounds on the h01 dump over the hotskew
    corpus (tailDup-doubled: 400 docs, 200 sharing the phrase).
    Calibration (healthy families, measured on this seeded corpus):
    minhash 8, simhash64 4, winnow 200 (the 200 phrase-sharers DO share
    selected fingerprints — winnow hot buckets are the semantic,
    shared-substring kind and must reach exactly the sharer count, no
    further), sign_lsh 54 of the 500 sf0.001 embeddings (corpus-scaled
    buckets — scaledBits(500) = 4 bits — partition the corpus BY
    DESIGN; bound = 25% of vectors). Bounds are
    2-4x the measured healthy values except winnow's, which is
    structural (sharers + 8); a magnitude-preserving regression reads
    minhash max_pop ≈ 200 — an order of magnitude past its bound."""
    import duckdb
    rows = duckdb.sql(
        "SELECT family, max_pop FROM read_parquet("
        f"'{out_dir}/h01_lsh_bucket_audit/*.parquet')").fetchall()
    stats = dict(rows)
    # winnow_capped: the 200-phrase-sharer bucket exceeds the df <= 64
    # cap and must VANISH from the defense row — max_pop there is
    # bounded by the cap itself, the executable detector-vs-defense
    # split (PLANS.md r18)
    bounds = {"minhash": 24, "simhash64": 16, "winnow": 208,
              "winnow_capped": 64, "sign_lsh": 125}
    errs = []
    for fam, bound in sorted(bounds.items()):
        if fam not in stats:
            errs.append(f"{fam}: missing from h01 dump")
        elif stats[fam] > bound:
            errs.append(f"{fam}: max_pop {stats[fam]} > bound {bound}")
    return errs


def main():
    sweeps = {"docs": sweep_docs, "dups": sweep_dups, "events": sweep_events,
              "emb": sweep_emb, "tpc": sweep_tpc, "boiler": sweep_boiler,
              "onedoc": sweep_onedoc, "hotskew": sweep_hotskew}
    post_checks = {"hotskew": check_hotskew}
    failed = []
    results = {}
    for name, gen in sweeps.items():
        d = gen()
        out_dir = f"/tmp/graft_adv_out_{name}"
        r = subprocess.run(
            ["python3", "scripts/compare.py", d, out_dir],
            capture_output=True, text=True, cwd=CHECKOUT)
        tail = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "(no output)"
        ok = r.returncode == 0
        if ok and name in post_checks:
            errs = post_checks[name](out_dir)
            if errs:
                ok = False
                tail = f"post-check: {'; '.join(errs)}"
        print(f"[adversarial] {name}: {'OK' if ok else 'FAIL'} — {tail}")
        if not ok:
            failed.append(name)
            print(r.stdout[-2000:])
        results[name] = {"ok": ok, "tail": tail}
    out = os.environ.get("ADVERSARIAL_JSON")
    if out:
        with open(out, "w") as f:
            json.dump({"base": SF, "utc": datetime.datetime.utcnow()
                       .strftime("%Y-%m-%dT%H:%M:%SZ"),
                       "sweeps": results,
                       "failed": failed}, f, indent=2)
        print(f"[adversarial] wrote {out}")
    print("\n[adversarial] failed:", failed if failed else "none")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
