"""Seeded input generators for the claimbench workloads.

Every generator takes the workload seed and writes plain files (CSV,
text, properties) into an input directory; the library under test only
ever sees those files. The same seed gives byte-identical files
(``tests/test_gen.py`` pins that).

Claims side (``ingest`` and ``dashboard``):
  base.csv          the claims history (fixed seed), uploaded through the
                    upload verb to build the base hub, count store, mart
  upload_<i>.csv    the fixed upload sequence: slices of new claims in
                    the month after the history plus ~10% re-filed
                    claims (some moving parent key); the first slice
                    opens that month
  sales.csv         monthly sales per plant (fixed seed), with zero
                    months to backfill
  parents.txt       mart keys of the base in Zipf rank order
  lookups.txt       the analyst session's point lookups: ``hot <rank>``
                    (the rank-th top risk key) or ``cold <mart key>
                    <expected documents>``
  uploads.txt       per upload: file, rows, new keys, touched mart keys
  expect.properties expected counts the checks compare against

Curation side:
  docs.csv          id,source,text — the corpus, with planted exact and
                    near duplicates and contaminated documents
  bench.csv         id,text — the held-out contamination set
  emb.csv           id,v0..v{dim-1} — per-document embeddings
  exact_groups.txt  one planted exact-duplicate group per line (ids)
  near_pairs.txt    one planted near-duplicate pair per line
  contaminated.txt  ids of documents carrying a held-out text
  expect.properties expected counts
"""

import bisect
import os
import random

# Claims dimensions. The mart's parent key is (플랜트, 제품범주2, 대분류);
# its children are 중분류 (at most 8 per parent). The risk scan keys on
# (플랜트, 대분류, 소분류, 등급기준).
PLANTS = ["P%02d" % i for i in range(12)]
CATS2 = ["C%d" % i for i in range(8)]
MAJORS = ["M%d" % i for i in range(6)]
MIDS = ["S%d" % i for i in range(8)]
MINORS = ["N%d" % i for i in range(5)]
GRADES = ["일반", "경미", "중대"]
GRADE_WEIGHTS = [0.7, 0.22, 0.08]
PRODUCTS = ["제품%02d" % i for i in range(20)]

HEADER = ["접수년", "접수월", "접수일", "상담번호", "플랜트", "제품범주2",
          "대분류", "중분류", "소분류", "등급기준", "제품명", "제품코드",
          "제조일자", "LOT", "제목"]

# Reference shape scaled to the benchmark's time budget (see README.md).
CLAIMS = {
    "parents": 400,
    "months": 12,           # 2024-01 .. 2024-12; uploads target 2024-12
    "base_claims": 6000,
    "uploads": 2,           # the first opens 2025-01 (the untimed
                            # lead-in); the rest add to 2025-01
    "upload_rows": 200,
    "refile_share": 0.10,
    "lookups": 16,
    "hot_share": 0.5,
    "hot_keys": 10,
    "zipf_s": 1.1,
    "lot_clusters": 6,
}

CORPUS = {
    "unique_docs": 4000,
    "vocab": 4000,
    "min_len": 40,
    "max_len": 160,
    "exact_groups": 150,    # each: one original + 1..2 exact copies
    "near_pairs": 250,      # each: one original + one 3%-edited copy
    "bench_docs": 80,
    "contaminated": 60,
    "dim": 32,
}
SOURCES = ["web", "books", "code", "news"]

START_YEAR, START_MONTH = 2024, 1
# The claims base is the same for every run seed (see claims()).
BASE_SEED = 0


def _month(i):
    """Month index i (0-based from the start) as (year, month)."""
    m = START_MONTH - 1 + i
    return START_YEAR + m // 12, m % 12 + 1


def _zipf_cdf(n, s):
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r ** s
        out.append(acc)
    return [x / acc for x in out]


def _draw(rng, cdf):
    return min(bisect.bisect_left(cdf, rng.random()), len(cdf) - 1)


def _write(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def _props(path, d):
    _write(path, ["%s=%s" % (k, d[k]) for k in sorted(d)])


def mart_key(parent):
    return "_".join(parent)


def claims(seed, out_dir, cfg=CLAIMS):
    """Claims history, upload slices, sales and the analyst session.

    The base (history and sales) comes from a fixed seed, so a checkout
    builds it once and every run restores it; the run seed draws the
    upload slices and the analyst session.
    """
    base_rng = random.Random("claims-base-%d" % BASE_SEED)
    rng = random.Random("claims-run-%d" % seed)
    os.makedirs(out_dir, exist_ok=True)
    combos = [(p, c, m) for p in PLANTS for c in CATS2 for m in MAJORS]
    parents = base_rng.sample(combos, cfg["parents"])  # rank = Zipf order
    kids = {par: sorted(base_rng.sample(MIDS, base_rng.randint(1, len(MIDS))))
            for par in parents}
    cdf = _zipf_cdf(len(parents), cfg["zipf_s"])
    months = cfg["months"]
    last = months - 1

    def row(r, key, parent, ym, day):
        y, m = ym
        lag = r.randint(0, 120)
        mfg = "" if r.random() < 0.05 else _minus_days(y, m, day, lag)
        prod = r.randrange(len(PRODUCTS))
        grade = r.choices(GRADES, GRADE_WEIGHTS)[0]
        return [str(y), str(m), str(day), key, parent[0], parent[1],
                parent[2], r.choice(kids[parent]), r.choice(MINORS),
                grade, PRODUCTS[prod], "PC%03d" % prod, mfg,
                "L%05d" % r.randrange(100000), "클레임 %d" % r.randrange(1000)]

    # Base history: Zipf over parents, uniform over months.
    base = []
    for i in range(cfg["base_claims"]):
        par = parents[_draw(base_rng, cdf)]
        base.append(row(base_rng, "K%07d" % i, par,
                        _month(base_rng.randrange(months)),
                        base_rng.randint(1, 28)))
    # Planted LOT clusters: >= 3 claims sharing plant, product, minor and
    # manufacture date inside the last 30 days of the history.
    y, m = _month(last)
    for c in range(cfg["lot_clusters"]):
        par = parents[c]
        prod = PRODUCTS[c]
        for j in range(3 + c % 2):
            r = row(base_rng, "K%07d" % len(base), par, (y, m), 20 + j)
            r[8], r[10], r[11], r[12] = MINORS[0], prod, "PC%03d" % c, \
                "%04d-%02d-01" % (y, m)
            base.append(r)
    base_keys = len(base)
    _write(os.path.join(out_dir, "base.csv"),
           [",".join(HEADER)] + [",".join(r) for r in base])

    # Sales: every plant x month, ~8% zero months (backfilled by estimation).
    sales = ["ID,플랜트,년,월,매출수량"]
    for p in PLANTS:
        for i in range(months + 1):
            y, m = _month(i)
            qty = 0 if base_rng.random() < 0.08 \
                else base_rng.randint(20000, 90000)
            sales.append("S-%s,%s,%d,%d,%d" % (p, p, y, m, qty))
    _write(os.path.join(out_dir, "sales.csv"), sales)

    # Upload sequence (run seed).
    next_key = base_keys
    key_parent = {r[3]: (r[4], r[5], r[6]) for r in base}
    uploads = []
    for u in range(cfg["uploads"]):
        ym = _month(last + 1)
        rows, touched = [], set()
        n_refile = int(cfg["upload_rows"] * cfg["refile_share"])
        for _ in range(cfg["upload_rows"] - n_refile):
            par = parents[_draw(rng, cdf)]
            rows.append(row(rng, "K%07d" % next_key, par, ym,
                            rng.randint(1, 28)))
            next_key += 1
            touched.add(mart_key(par))
        for j in range(n_refile):
            old = base[rng.randrange(len(base))]
            par = (old[4], old[5], old[6])
            if j % 2 == 0:  # a parent-key move
                par = parents[_draw(rng, cdf)]
            r = row(rng, old[3], par, (int(old[0]), int(old[1])), int(old[2]))
            rows.append(r)
            touched.add(mart_key(key_parent[old[3]]))
            touched.add(mart_key(par))
            key_parent[old[3]] = par
        name = "upload_%d.csv" % u
        _write(os.path.join(out_dir, name),
               [",".join(HEADER)] + [",".join(r) for r in rows])
        uploads.append("%s %d %d %d" % (name, len(rows),
                                        len(rows) - n_refile, len(touched)))
    _write(os.path.join(out_dir, "uploads.txt"), uploads)

    used = {mart_key((r[4], r[5], r[6])) for r in base}
    _write(os.path.join(out_dir, "parents.txt"),
           [mart_key(p) for p in parents if mart_key(p) in used])
    lookups = []
    for _ in range(cfg["lookups"]):
        if rng.random() < cfg["hot_share"]:
            lookups.append("hot %d" % rng.randrange(cfg["hot_keys"]))
        else:
            key = mart_key(parents[_draw(rng, cdf)])
            lookups.append("cold %s %d" % (key, 1 if key in used else 0))
    _write(os.path.join(out_dir, "lookups.txt"), lookups)

    risk_keys = {(r[4], r[6], r[8], r[9]) for r in base}
    plant_major = sorted({(r[4], r[6]) for r in base})
    train = max(plant_major, key=lambda k: sum(
        1 for r in base if (r[4], r[6]) == k))
    expect = {
        "base_claims": base_keys,
        "final_claims": next_key,
        "base_docs": len(used),
        "risk_keys": len(risk_keys),
        "parents": len(parents),
        "months": months,
        "last_month": "%04d-%02d" % _month(last),
        "as_of": "%04d-%02d-01" % _month(last + 2),
        "pivot_plant": base[0][4],
        "train_plant": train[0],
        "train_major": train[1],
        "lookups": len(lookups),
        "lot_clusters": cfg["lot_clusters"],
        "plants": len({r[4] for r in base}),
        "plant_months": len({(r[4], r[0], r[1]) for r in base}),
        "uploads": cfg["uploads"],
    }
    _props(os.path.join(out_dir, "expect.properties"), expect)
    return _sizes(out_dir, {"claims": base_keys, "parents": len(parents),
                            "uploads": cfg["uploads"],
                            "upload_rows": cfg["upload_rows"]})


def _minus_days(y, m, d, days):
    import datetime
    t = datetime.date(y, m, d) - datetime.timedelta(days=days)
    return t.isoformat()


def corpus(seed, out_dir, cfg=CORPUS):
    """Curation corpus with planted duplicates, contamination, embeddings."""
    rng = random.Random("corpus-%d" % seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = ["w%04d" % i for i in range(cfg["vocab"])]
    cdf = _zipf_cdf(len(vocab), 1.0)
    dim = cfg["dim"]

    def text():
        n = rng.randint(cfg["min_len"], cfg["max_len"])
        # Mix Zipf-drawn and uniform words: enough shared common words
        # to look like text, enough rare ones that shingles stay distinct.
        return [vocab[_draw(rng, cdf)] if rng.random() < 0.5
                else rng.choice(vocab) for _ in range(n)]

    def vec():
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = sum(x * x for x in v) ** 0.5
        return [x / norm for x in v]

    docs = []  # (text tokens, vector)
    for _ in range(cfg["unique_docs"]):
        docs.append((text(), vec()))
    bench = [text() for _ in range(cfg["bench_docs"])]

    originals = rng.sample(range(len(docs)),
                           cfg["exact_groups"] + cfg["near_pairs"]
                           + cfg["contaminated"])
    exact_src = originals[:cfg["exact_groups"]]
    near_src = originals[cfg["exact_groups"]:
                         cfg["exact_groups"] + cfg["near_pairs"]]
    contam_src = originals[cfg["exact_groups"] + cfg["near_pairs"]:]

    extra = []  # (origin index or None, tokens, vector)
    for o in exact_src:
        for _ in range(rng.randint(1, 2)):
            extra.append(("exact", o, list(docs[o][0]), list(docs[o][1])))
    for o in near_src:
        toks = list(docs[o][0])
        for i in range(len(toks)):
            if rng.random() < 0.03:
                toks[i] = rng.choice(vocab)
        if toks == docs[o][0]:  # a near duplicate is never an exact one
            toks[rng.randrange(len(toks))] = "edit%d" % o
        v = [x + rng.gauss(0.0, 0.01) for x in docs[o][1]]
        extra.append(("near", o, toks, v))
    for j, o in enumerate(contam_src):
        # The document's text is replaced by a held-out text, so its
        # shingles all hit the contamination set.
        docs[o] = (list(bench[j % len(bench)]), docs[o][1])

    # Shuffle the final corpus order so copies are not adjacent to their
    # originals; ids are the final positions.
    allrows = [("orig", i, d[0], d[1]) for i, d in enumerate(docs)] + extra
    order = list(range(len(allrows)))
    rng.shuffle(order)
    pos = {}
    for new_id, old in enumerate(order):
        pos[old] = new_id
    orig_id = {i: pos[i] for i in range(len(docs))}

    lines, emb = ["id,source,text"], ["id," + ",".join(
        "v%d" % i for i in range(dim))]
    n_tokens = 0
    for new_id, old in enumerate(order):
        _, _, toks, v = allrows[old]
        n_tokens += len(toks)
        lines.append("%d,%s,%s" % (new_id, SOURCES[new_id % len(SOURCES)],
                                   " ".join(toks)))
        emb.append("%d,%s" % (new_id, ",".join("%.6f" % x for x in v)))
    _write(os.path.join(out_dir, "docs.csv"), lines)
    _write(os.path.join(out_dir, "emb.csv"), emb)
    _write(os.path.join(out_dir, "bench.csv"), ["id,text"] + [
        "%d,%s" % (i, " ".join(t)) for i, t in enumerate(bench)])

    groups = {}
    for k, e in enumerate(extra):
        if e[0] == "exact":
            groups.setdefault(e[1], [orig_id[e[1]]]).append(
                pos[len(docs) + k])
    near = [(orig_id[e[1]], pos[len(docs) + k])
            for k, e in enumerate(extra) if e[0] == "near"]
    _write(os.path.join(out_dir, "exact_groups.txt"),
           [" ".join(str(i) for i in sorted(g)) for _, g in sorted(groups.items())])
    _write(os.path.join(out_dir, "near_pairs.txt"),
           ["%d %d" % p for p in sorted(near)])
    _write(os.path.join(out_dir, "contaminated.txt"),
           [str(orig_id[o]) for o in sorted(contam_src)])
    n_docs = len(allrows)
    _props(os.path.join(out_dir, "expect.properties"), {
        "docs": n_docs,
        "tokens": n_tokens,
        "exact_groups": len(groups),
        "near_pairs": len(near),
        "contaminated": len(contam_src),
        "bench_docs": len(bench),
        "dim": dim,
        "near_recall_floor": 0.9,
    })
    return _sizes(out_dir, {"docs": n_docs, "tokens": n_tokens})


def _sizes(out_dir, extra):
    files = sorted(os.listdir(out_dir))
    sizes = dict(extra)
    sizes["files"] = len(files)
    sizes["bytes"] = sum(os.path.getsize(os.path.join(out_dir, f))
                         for f in files)
    return sizes


def generate(workload, seed, out_dir):
    """Write the inputs of one workload; return their sizes."""
    if workload in ("ingest", "dashboard"):
        return claims(seed, out_dir)
    if workload == "curation":
        return corpus(seed, out_dir)
    raise ValueError("unknown workload: %s" % workload)
