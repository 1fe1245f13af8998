"""Round-4 curation operators: redaction, mixture, shards, decontamination,
int8 quantization, k-means."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from iceberg_demo_spark import registry
from iceberg_demo_spark.operators import curation
from tests.conftest import SF_SMALL

registry.load_all()


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def _embs(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def _bucket(key) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % 10_000


def test_redaction_matches_python_recompute(spark):
    rows = {r["source"]: r
            for r in registry.QUERIES["doc_pii_redaction"](spark, SF_SMALL)
            .collect()}
    acc: dict[str, dict[str, int]] = defaultdict(
        lambda: {"n": 0, "touched": 0, "red": 0, "after": 0})
    for r in _docs(spark).collect():
        hits = [t for t in r["text"].split(" ")
                if t in curation._REDACT_TERMS]
        a = acc[r["source"]]
        a["n"] += 1
        a["touched"] += bool(hits)
        a["red"] += len(hits)
        a["after"] += (r["n_chars"] - sum(len(t) for t in hits)
                       + len(hits) * len(curation._REDACT_WITH))
    assert set(rows) == set(acc)
    for src, a in acc.items():
        got = rows[src]
        assert (got["n_docs"], got["n_docs_touched"], got["n_redactions"],
                got["chars_after"]) == (a["n"], a["touched"], a["red"],
                                        a["after"])


def test_mixture_weights_sum_to_one_and_match_sqrt_law(spark):
    rows = registry.QUERIES["doc_mixture_weights"](spark, SF_SMALL).collect()
    toks = {r["source"]: 0 for r in rows}
    for r in _docs(spark).collect():
        toks[r["source"]] += len(r["text"].split(" "))
    w = {s: math.floor(1e6 * math.sqrt(t)) for s, t in toks.items()}
    total = sum(w.values())
    for r in rows:
        assert r["n_tokens"] == toks[r["source"]]
        assert r["mixture_ppm"] == round(1e6 * w[r["source"]] / total)
    # weights normalize to ~1e6 ppm (off-by-rounding at most #sources/2)
    assert abs(sum(r["mixture_ppm"] for r in rows) - 1_000_000) <= len(rows)


def test_shard_assignment_is_deterministic_partition(spark):
    rows = registry.QUERIES["doc_shard_assignment"](spark, SF_SMALL).collect()
    exp: dict[int, list] = defaultdict(list)
    for r in _docs(spark).collect():
        exp[_bucket(r["doc_id"]) % curation._N_SHARDS].append(r)
    assert sum(r["n_docs"] for r in rows) == sum(len(v) for v in exp.values())
    for r in rows:
        grp = exp[r["shard"]]
        assert r["n_docs"] == len(grp)
        assert r["shard_chars"] == sum(g["n_chars"] for g in grp)
        assert r["min_doc_id"] == min(g["doc_id"] for g in grp)
        assert r["max_doc_id"] == max(g["doc_id"] for g in grp)


def test_decontamination_matches_python_shingle_overlap(spark):
    n = curation._DECON_N
    rows = {r["source"]: r
            for r in registry.QUERIES["doc_decontamination"](spark, SF_SMALL)
            .collect()}
    bench: set[str] = set()
    train: list = []
    for r in _docs(spark).collect():
        ts = r["text"].split(" ")
        grams = {" ".join(ts[i:i + n]) for i in range(len(ts) - n + 1)}
        if r["source"] in curation._BENCH_SOURCES:
            bench |= grams
        else:
            train.append((r["source"], grams))
    acc: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for src, grams in train:
        acc[src][0] += 1
        acc[src][1] += bool(grams & bench)
    assert set(rows) == set(acc)
    for src, (nd, nc) in acc.items():
        assert rows[src]["n_docs"] == nd
        assert rows[src]["n_contaminated"] == nc
        assert rows[src]["n_clean"] == nd - nc


def test_int8_quantization_codes_and_saturation(spark):
    rows = {r["dim"]: r
            for r in registry.QUERIES["emb_int8_quantization"](spark, SF_SMALL)
            .collect()}
    vecs = [r["embedding"] for r in _embs(spark).collect()]
    dims = len(vecs[0])
    assert set(rows) == set(range(1, dims + 1))
    for d in range(dims):
        xs = [float(v[d]) for v in vecs]
        maxabs = max(abs(x) for x in xs)
        # Python round is banker's; recompute with explicit half-away so a
        # disagreement would surface as an off-by-one in the exact sums.
        codes = [math.floor(x * 127 / maxabs + 0.5)
                 if x >= 0 else math.ceil(x * 127 / maxabs - 0.5)
                 for x in xs]
        got = rows[d + 1]
        assert got["n_vecs"] == len(xs)
        assert got["sum_code"] == sum(codes)
        assert got["sum_abs_code"] == sum(abs(c) for c in codes)
        assert got["n_saturated"] == sum(1 for c in codes if abs(c) == 127)
        assert abs(got["maxabs"] - maxabs) < 1e-6
        err = sum(abs(x - c * maxabs / 127) for x, c in zip(xs, codes))
        assert abs(got["avg_abs_err"] - err / len(xs)) < 1e-5


def _py_kmeans(vecs: dict[int, list[float]], k: int):
    seeds = {c: vecs[c] for c in range(k)}

    def assign(cents):
        out = {}
        for vid, v in vecs.items():
            best = min(
                ((sum((float(a) - float(b)) ** 2 for a, b in zip(v, c)), cid)
                 for cid, c in cents.items()))
            out[vid] = (best[1], best[0])
        return out

    a1 = assign(seeds)
    byc: dict[int, list] = defaultdict(list)
    for vid, (cid, _) in a1.items():
        byc[cid].append(vecs[vid])
    c2 = {
        cid: [round(sum(float(v[i]) for v in vs) / len(vs), 4)
              for i in range(len(vs[0]))]
        for cid, vs in byc.items()
    }
    return a1, assign(c2)


def test_kmeans_two_iterations_match_python_lloyd(spark):
    rows = {r["cluster_id"]: r
            for r in registry.QUERIES["emb_kmeans_clusters"](spark, SF_SMALL)
            .collect()}
    vecs = {r["vec_id"]: list(r["embedding"])
            for r in _embs(spark).collect()}
    a1, a2 = _py_kmeans(vecs, curation._K)
    n1 = Counter(cid for cid, _ in a1.values())
    n2 = Counter(cid for cid, _ in a2.values())
    inertia = defaultdict(float)
    for cid, d in a2.values():
        inertia[cid] += d
    assert set(rows) == set(range(curation._K))
    for cid in range(curation._K):
        got = rows[cid]
        assert got["n_iter1"] == n1.get(cid, 0)
        assert got["n_iter2"] == n2.get(cid, 0)
        assert abs(got["inertia"] - inertia.get(cid, 0.0)) < 0.05


def test_kmeans_iteration_reduces_total_inertia(spark):
    # Lloyd guarantee: total inertia after the update+reassign step is no
    # worse than assigning to the (quantized) iter-1 centroids would give —
    # sanity-check monotonicity end to end vs the pure-Python recompute.
    vecs = {r["vec_id"]: list(r["embedding"])
            for r in _embs(spark).collect()}
    a1, a2 = _py_kmeans(vecs, curation._K)
    assert (sum(d for _, d in a2.values())
            <= sum(d for _, d in a1.values()) + 1e-6)


def test_dominant_dims_match_python_argmax(spark):
    from collections import Counter

    from iceberg_demo_spark import registry
    from tests.conftest import SF_SMALL

    registry.load_all()
    vecs = [r["embedding"] for r in spark.read.parquet(
        f"{SF_SMALL}/embeddings.parquet").select("embedding").collect()]
    hist: Counter = Counter()
    top_v: dict[int, float] = {}
    for v in vecs:
        xs = [float(x) for x in v]
        m = max(xs)
        d = xs.index(m) + 1  # first (lowest-index) max, 1-based
        hist[d] += 1
        top_v[d] = max(top_v.get(d, float("-inf")), m)
    n = len(vecs)
    expected = sorted(hist.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = registry.QUERIES["emb_dominant_dims"](spark, SF_SMALL).collect()
    assert [(r["dim"], r["n_vecs"]) for r in got] == expected
    for r in got:
        assert r["pct"] == round(1000000.0 * hist[r["dim"]] / n) / 10000
        assert r["max_component"] == round(top_v[r["dim"]], 6)


# -- round-6 late additions: column profile + referential integrity --------

def test_column_profile_matches_python_recompute(spark):
    from tests.conftest import SF_SMALL

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    rows = li.select("l_quantity", "l_extendedprice", "l_discount",
                     "l_tax").collect()
    got = {
        r["col_name"]: r
        for r in registry.QUERIES["lineitem_column_profile"](
            spark, SF_SMALL).collect()
    }
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        vals = [r[col] for r in rows]
        nn = [v for v in vals if v is not None]
        row = got[col]
        assert row["n_rows"] == len(vals)
        assert row["n_nulls"] == len(vals) - len(nn)
        assert row["n_distinct"] == len(set(nn))
        assert row["min_val"] == min(nn)
        assert row["max_val"] == max(nn)


def test_referential_integrity_counts_planted_orphans(spark, tmp_path):
    """On the driver testdata all FKs resolve (0 orphans); plant orphan
    rows in a copy and the audit must count them exactly."""
    import shutil

    from tests.conftest import SF_SMALL

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    base = {
        r["fk"]: r
        for r in registry.QUERIES["referential_integrity_audit"](
            spark, SF_SMALL).collect()
    }
    assert all(r["n_orphans"] == 0 for r in base.values())

    orders = spark.read.parquet(f"{sf}/orders.parquet")
    bad = spark.createDataFrame(
        [(10**9 + i, 10**9, "O", 1.0, None, "1-URGENT") for i in range(3)],
        orders.schema)
    # stage to a fresh path, then swap in — Spark can't overwrite a
    # parquet path it is concurrently reading from
    import os

    staged = str(tmp_path / "orders_staged")
    orders.unionByName(bad).write.parquet(staged)
    os.remove(f"{sf}/orders.parquet")
    os.rename(staged, f"{sf}/orders.parquet")
    spark.catalog.clearCache()
    got = {
        r["fk"]: r
        for r in registry.QUERIES["referential_integrity_audit"](
            spark, sf).collect()
    }
    row = got["orders.o_custkey -> customer"]
    assert row["n_orphans"] == 3
    assert row["n_orphan_keys"] == 1  # all three share custkey 10**9
    # the planted orders also have no lineitems — that's fine (FK points
    # the other way); the lineitem->orders audit must stay clean
    assert got["lineitem.l_orderkey -> orders"]["n_orphans"] == 0


# -- round 8: product quantization encoding audit --------------------------

def test_pq_codes_match_pure_python(spark):
    """emb_pq_codes vs a pure-Python recompute at sf0.001: same 4x16
    subspace split, same seeded 8-code codebooks, same (dist, code)
    argmin tie-break, same fixed-point distortion accounting."""
    from iceberg_demo_spark.operators.curation import _PQ_K, _PQ_M, _PQ_SUB

    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in _embs(spark).collect()}
    cb = {(m, code): vecs[code][m * _PQ_SUB:(m + 1) * _PQ_SUB]
          for m in range(_PQ_M) for code in range(_PQ_K)}
    hist = defaultdict(int)
    dist_fp = defaultdict(int)
    for v in vecs.values():
        for m in range(_PQ_M):
            sub = v[m * _PQ_SUB:(m + 1) * _PQ_SUB]
            best = min(
                (sum((a - b) ** 2 for a, b in zip(sub, cb[(m, c)])), c)
                for c in range(_PQ_K))
            hist[(m, best[1])] += 1
            dist_fp[(m, best[1])] += round(best[0] * 1e6)
    got = {(r["subspace"], r["code"]): r
           for r in registry.QUERIES["emb_pq_codes"](spark, SF_SMALL)
           .collect()}
    assert set(got) == {k for k, n in hist.items() if n > 0}
    for key, r in got.items():
        assert r["n_vectors"] == hist[key]
        assert r["distortion_micro"] == dist_fp[key]
    # every vector got exactly one code per subspace
    assert sum(hist.values()) == len(vecs) * _PQ_M


def test_pq_adc_recall_matches_pure_python(spark):
    """sim_pq_adc_recall vs a pure-Python recompute at sf0.001: same
    reconstruction (chosen centroid subvectors concatenated), same L2
    (dist, id) ranking for both exact and approx top-5, same bps — for
    BOTH the seeded codebook and the 2-Lloyd-update trained one (same
    fixed-point mean + 4dp re-quantization + empty-code carry-over)."""
    from iceberg_demo_spark.operators.curation import (
        _PQ_ITERS, _PQ_K, _PQ_M, _PQ_SUB)

    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in _embs(spark).collect()}
    cb = {(m, code): vecs[code][m * _PQ_SUB:(m + 1) * _PQ_SUB]
          for m in range(_PQ_M) for code in range(_PQ_K)}

    def encode(codebook):
        out = {}
        for vid, v in vecs.items():
            for m in range(_PQ_M):
                sub = v[m * _PQ_SUB:(m + 1) * _PQ_SUB]
                best = min(
                    (sum((a - b) ** 2
                         for a, b in zip(sub, codebook[(m, c)])), c)
                    for c in range(_PQ_K))
                out[(vid, m)] = best[1]
        return out

    def train(codebook):
        for _ in range(_PQ_ITERS):
            asg = encode(codebook)
            nxt = {}
            for m in range(_PQ_M):
                for c in range(_PQ_K):
                    members = [vid for vid in vecs if asg[(vid, m)] == c]
                    if not members:
                        nxt[(m, c)] = codebook[(m, c)]
                        continue
                    comp = []
                    for i in range(_PQ_SUB):
                        # half-away rounding (Spark/DuckDB ROUND), not
                        # Python banker's
                        s = sum(
                            math.floor(vecs[vid][m * _PQ_SUB + i] * 1e6
                                       + 0.5)
                            if vecs[vid][m * _PQ_SUB + i] >= 0 else
                            math.ceil(vecs[vid][m * _PQ_SUB + i] * 1e6
                                      - 0.5)
                            for vid in members)
                        comp.append(round(s / (1e6 * len(members)), 4))
                    nxt[(m, c)] = comp
            codebook = nxt
        return codebook

    def recon_map(codebook):
        asg = encode(codebook)
        return {vid: sum((codebook[(m, asg[(vid, m)])]
                          for m in range(_PQ_M)), [])
                for vid in vecs}

    def top5(space):
        out = set()
        for q in range(8):
            qv = vecs[q]
            ranked = sorted(
                (sum((a - b) ** 2 for a, b in zip(qv, space[v])), v)
                for v in space if v != q)[:5]
            out |= {(q, v) for _, v in ranked}
        return out

    exact = top5(vecs)
    ap_se, ap_tr = top5(recon_map(cb)), top5(recon_map(train(cb)))
    got = registry.QUERIES["sim_pq_adc_recall"](
        spark, SF_SMALL).collect()[0]
    assert got["n_exact"] == len(exact) == 40
    assert got["n_match_seeded"] == len(exact & ap_se)
    assert got["recall_bp_seeded"] == 10000 * len(exact & ap_se) // 40
    assert got["n_match_trained"] == len(exact & ap_tr)
    assert got["recall_bp_trained"] == 10000 * len(exact & ap_tr) // 40
    # training must not LOSE recall at any of the shipped SFs (measured:
    # 2000->2500 sf0.001, 2250->3000 sf0.01, 2250->2750 sf0.1)
    assert got["recall_bp_trained"] > got["recall_bp_seeded"]


def test_mixture_materialize_matches_python_recompute(spark):
    """Recompute the whole budget → hash-order pick in pure Python at
    sf0.001 (integer arithmetic end-to-end, α=0.5 ppm weights)."""
    import hashlib
    import math
    from collections import defaultdict

    from iceberg_demo_spark.sources import load_tables

    docs = (load_tables(spark, SF_SMALL, ("documents",))["documents"]
            .select("source", "doc_id", "text").collect())
    per_src = defaultdict(lambda: [0, 0])
    for d in docs:
        n = len(d.text.split(" "))
        per_src[d.source][0] += 1
        per_src[d.source][1] += n
    w_raw = {s: math.floor(1_000_000 * math.sqrt(float(v[1])))
             for s, v in per_src.items()}
    tot_w = sum(w_raw.values())
    ppm = {s: int(round(1_000_000 * float(w) / float(tot_w)))
           for s, w in w_raw.items()}
    total_tokens = sum(v[1] for v in per_src.values())
    budget = {s: ((total_tokens // 2) * ppm[s]) // 1_000_000
              for s in per_src}
    ranked = defaultdict(list)
    for d in docs:
        ranked[d.source].append(
            (hashlib.md5(d.text.encode()).hexdigest(), d.doc_id,
             len(d.text.split(" "))))
    expected = {}
    for s, rows in ranked.items():
        rows.sort()
        cum = picked_docs = picked_tokens = 0
        for _, _, n in rows:
            cum += n
            if cum > budget[s]:
                break
            picked_docs += 1
            picked_tokens += n
        expected[s] = (budget[s], picked_docs, picked_tokens,
                       (10_000 * picked_tokens) // max(budget[s], 1))
    rows = registry.QUERIES["doc_mixture_materialize"](
        spark, SF_SMALL).collect()
    got = {r.source: (r.budget_tokens, r.picked_docs, r.picked_tokens,
                      r.fill_bps) for r in rows}
    assert got == expected


def test_split_leakage_matches_python_recompute(spark):
    """Split assignment + boundary buckets recomputed in pure Python
    from the pair gate's own output at sf0.001."""
    import hashlib

    from iceberg_demo_spark.sources import load_tables

    docs = (load_tables(spark, SF_SMALL, ("documents",))["documents"]
            .select("doc_id", "text").collect())
    split = {d.doc_id: ("valid" if hashlib.md5(d.text.encode())
                        .hexdigest()[0] < "2" else "train") for d in docs}
    pairs = [(r.id_a, r.id_b) for r in registry.QUERIES
             ["dedup_ngram_jaccard_pairs"](spark, SF_SMALL).collect()]
    from collections import Counter
    buckets = Counter(tuple(sorted((split[a], split[b]))) for a, b in pairs)
    sizes = Counter(split.values())
    rows = registry.QUERIES["doc_split_leakage_audit"](
        spark, SF_SMALL).collect()
    assert {(r.side_a, r.side_b): r.n_pairs for r in rows} == dict(buckets)
    for r in rows:
        assert r.docs_a == sizes[r.side_a] and r.docs_b == sizes[r.side_b]


def test_mixture_epochs_matches_python_recompute(spark):
    import math
    from collections import defaultdict

    from iceberg_demo_spark.sources import load_tables

    docs = (load_tables(spark, SF_SMALL, ("documents",))["documents"]
            .select("source", "text").collect())
    per = defaultdict(int)
    for d in docs:
        per[d.source] += len(d.text.split(" "))
    w_raw = {s: math.floor(1_000_000 * math.sqrt(float(n)))
             for s, n in per.items()}
    tot_w = sum(w_raw.values())
    ppm = {s: int(round(1_000_000 * float(w) / float(tot_w)))
           for s, w in w_raw.items()}
    total = sum(per.values())
    rows = registry.QUERIES["doc_mixture_epochs"](spark, SF_SMALL).collect()
    for r in rows:
        budget = ((3 * total) * ppm[r.source]) // 1_000_000
        assert r.n_tokens == per[r.source]
        assert r.budget_tokens == budget
        assert r.epochs == (budget + r.n_tokens - 1) // r.n_tokens
        assert r.repetition_ppm == (1_000_000 * budget) // r.n_tokens
        assert r.epochs == math.ceil(r.repetition_ppm / 1_000_000)


def test_curation_pipeline_stage_consistency(spark):
    """doc_curation_pipeline: every stage's accounting must be
    internally consistent AND agree with the standalone component gates
    where stages coincide — n_total per source matches the corpus,
    stages only shrink, splits partition the survivors, the mixture
    never overfills a budget."""
    from pyspark.sql import functions as F

    rows = registry.QUERIES["doc_curation_pipeline"](
        spark, SF_SMALL).collect()
    assert rows and len(rows) == 20  # one row per source, none dropped
    tot = {r["source"]: r["n_total"] for r in rows}
    base = {r["source"]: r["n"] for r in _docs(spark).groupBy("source")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert tot == base
    kept_any = False
    for r in rows:
        assert 0 <= r["n_quality"] <= r["n_total"]
        assert 0 <= r["n_surviving"] <= r["n_quality"]
        assert r["n_train"] + r["n_valid"] == r["n_surviving"]
        assert r["picked_tokens"] <= r["budget_tokens"] or \
            r["budget_tokens"] == 0
        assert 0 <= r["fill_bps"] <= 10000
        kept_any = kept_any or r["n_surviving"] > 0
    assert kept_any, "pipeline must not empty the corpus"


def test_curation_pipeline_plan_is_checkpoint_bounded(spark):
    """The composed pipeline's FINAL plan re-reads the corpus at most
    twice (the per-source base count; every text-derived stage sits
    behind an eager checkpoint cut) — the 'operators actually chain
    with a bounded number of corpus passes' claim, pinned."""
    import contextlib
    import io

    from tests.conftest import SF_MED

    df = registry.QUERIES["doc_curation_pipeline"](spark, SF_MED)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("documents.parquet") <= 2, plan.count(
        "documents.parquet")
    scans = sum(1 for l in plan.splitlines() if "Scan parquet" in l)
    assert scans <= 3, scans
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_weights_match_python_recompute(spark):
    """doc_dsir_weights vs a pure-Python recompute at sf0.001: same md5
    feature buckets, same add-1 hashed-unigram LMs, same per-bucket
    micro-nat quantization, same integer per-doc LLR sums."""
    from iceberg_demo_spark.operators.curation import (
        _BENCH_SOURCES, _DSIR_BUCKETS)

    docs = [(r["doc_id"], r["source"], r["text"].split(" "))
            for r in _docs(spark).collect()]
    c_t: Counter = Counter()
    c_r: Counter = Counter()
    for _, src, toks in docs:
        for t in toks:
            b = _bucket(t) % _DSIR_BUCKETS
            c_r[b] += 1
            if src in _BENCH_SOURCES:
                c_t[b] += 1
    n_t, n_r = sum(c_t.values()), sum(c_r.values())
    u = {b: round(1e6 * (math.log(c_t.get(b, 0) + 1)
                         - math.log(n_t + _DSIR_BUCKETS)
                         - math.log(c_r.get(b, 0) + 1)
                         + math.log(n_r + _DSIR_BUCKETS)))
         for b in c_r}
    acc: dict[str, list[int]] = defaultdict(list)
    for _, src, toks in docs:
        if src in _BENCH_SOURCES:
            continue
        acc[src].append(sum(u[_bucket(t) % _DSIR_BUCKETS] for t in toks))
    got = {r["source"]: r for r in registry.QUERIES["doc_dsir_weights"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(acc)
    n_all = sum(len(v) for v in acc.values())
    s_all = sum(sum(v) for v in acc.values())
    for src, scores in acc.items():
        r = got[src]
        assert r["n_docs"] == len(scores)
        assert r["sum_unats"] == sum(scores)
        assert r["min_unats"] == min(scores)
        assert r["max_unats"] == max(scores)
        n_sel = sum(1 for s in scores if s * n_all > s_all)
        assert r["n_selected"] == n_sel
        assert r["sel_bps"] == 10000 * n_sel // len(scores)
    # the weights must DISCRIMINATE: not every doc selected, not none
    total_sel = sum(r["n_selected"] for r in got.values())
    total = sum(r["n_docs"] for r in got.values())
    assert 0 < total_sel < total


def test_length_bucketing_matches_python_recompute(spark):
    from iceberg_demo_spark.operators.curation import (
        _BUCKET_SEQ_BUDGET, _LEN_BUCKETS)

    per: dict[int, list[int]] = defaultdict(list)
    for r in _docs(spark).collect():
        n = len(r["text"].split(" "))
        upper = next((u for u in _LEN_BUCKETS if n <= u), _LEN_BUCKETS[-1])
        per[upper].append(min(n, upper))
    got = {r["bucket_upper"]: r
           for r in registry.QUERIES["doc_length_bucketing"](
               spark, SF_SMALL).collect()}
    assert set(got) == {u for u, v in per.items() if v}
    for upper, lens in per.items():
        r = got[upper]
        rpb = _BUCKET_SEQ_BUDGET // upper
        assert r["n_docs"] == len(lens)
        assert r["sum_tokens"] == sum(lens)
        assert r["rows_per_batch"] == rpb
        assert r["n_batches"] == -(-len(lens) // rpb)
        padded = len(lens) * upper
        assert r["pad_waste_ppm"] == 1_000_000 * (padded - sum(lens)) // padded


def test_ivfpq_search_matches_pure_python(spark):
    """sim_ivfpq_search vs a pure-Python recompute at sf0.001: same L2
    cell assignment/probe, same trained codebook (the PQ recompute's
    train()), same ADC ranking and loss decomposition."""
    from iceberg_demo_spark.operators.curation import (
        _IVFPQ_CELLS, _IVFPQ_NPROBE, _PIPE_LM_MIN_PPM,  # noqa: F401
        _PQ_ITERS, _PQ_K, _PQ_M, _PQ_SUB)

    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in _embs(spark).collect()}

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    cells = {c: vecs[c] for c in range(_IVFPQ_CELLS)}
    asgn = {vid: min((l2(v, cv), cid) for cid, cv in cells.items())[1]
            for vid, v in vecs.items()}
    probe = {q: [cid for _, cid in sorted(
        (l2(vecs[q], cv), cid) for cid, cv in cells.items())[:_IVFPQ_NPROBE]]
        for q in range(8)}

    # trained codebook — same construction as the PQ recompute test
    cb = {(m, code): vecs[code][m * _PQ_SUB:(m + 1) * _PQ_SUB]
          for m in range(_PQ_M) for code in range(_PQ_K)}
    for _ in range(_PQ_ITERS):
        asg_pq = {}
        for vid, v in vecs.items():
            for m in range(_PQ_M):
                sub = v[m * _PQ_SUB:(m + 1) * _PQ_SUB]
                asg_pq[(vid, m)] = min(
                    (l2(sub, cb[(m, c)]), c) for c in range(_PQ_K))[1]
        nxt = {}
        for m in range(_PQ_M):
            for c in range(_PQ_K):
                members = [vid for vid in vecs if asg_pq[(vid, m)] == c]
                if not members:
                    nxt[(m, c)] = cb[(m, c)]
                    continue
                comp = []
                for i in range(_PQ_SUB):
                    s = sum(math.floor(vecs[vid][m * _PQ_SUB + i] * 1e6
                                       + 0.5)
                            if vecs[vid][m * _PQ_SUB + i] >= 0 else
                            math.ceil(vecs[vid][m * _PQ_SUB + i] * 1e6
                                      - 0.5)
                            for vid in members)
                    comp.append(round(s / (1e6 * len(members)), 4))
                nxt[(m, c)] = comp
        cb = nxt
    recon = {}
    for vid, v in vecs.items():
        rhat = []
        for m in range(_PQ_M):
            sub = v[m * _PQ_SUB:(m + 1) * _PQ_SUB]
            best = min((l2(sub, cb[(m, c)]), c) for c in range(_PQ_K))
            rhat += cb[(m, best[1])]
        recon[vid] = rhat

    cand = {q: [vid for vid in vecs
                if vid != q and asgn[vid] in probe[q]]
            for q in range(8)}
    n_candidates = sum(len(v) for v in cand.values())

    def top5(space):
        out = set()
        for q in range(8):
            ranked = sorted((l2(vecs[q], space[v]), v)
                            for v in cand[q])[:5]
            out |= {(q, v) for _, v in ranked}
        return out

    exact = set()
    for q in range(8):
        ranked = sorted((l2(vecs[q], vecs[v]), v)
                        for v in vecs if v != q)[:5]
        exact |= {(q, v) for _, v in ranked}
    adc, ivfx = top5(recon), top5(vecs)
    got = registry.QUERIES["sim_ivfpq_search"](spark, SF_SMALL).collect()[0]
    assert got["n_exact"] == len(exact) == 40
    assert got["n_candidates"] == n_candidates
    assert got["n_match_ivf_exact"] == len(ivfx & exact)
    assert got["recall_bp_ivf_exact"] == 10000 * len(ivfx & exact) // 40
    assert got["n_match_ivfpq"] == len(adc & exact)
    assert got["recall_bp_ivfpq"] == 10000 * len(adc & exact) // 40
    # the decomposition is meaningful: pruning alone loses less than
    # pruning + quantization
    assert got["recall_bp_ivf_exact"] >= got["recall_bp_ivfpq"]


def test_code_covariance_matches_numpy(spark):
    """The exact integer covariance numerators equal numpy's
    computation over the same int8 codes."""
    import numpy as np

    from iceberg_demo_spark.registry import QUERIES
    from tests.conftest import SF_SMALL

    rows = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    maxabs = np.abs(X).max(axis=0)
    # same ROUND-half-up the engines share on these (never-.5) products
    codes = np.floor(X * 127 / maxabs + 0.5).astype(np.int64)
    n = codes.shape[0]
    got = QUERIES["emb_code_covariance"](spark, SF_SMALL).collect()
    assert len(got) == 15
    prev = None
    for r in got:
        i, j = r["i"] - 1, r["j"] - 1
        assert r["n_vecs"] == n
        assert r["sum_ci"] == codes[:, i].sum()
        assert r["sum_cj"] == codes[:, j].sum()
        assert r["sum_cij"] == int((codes[:, i] * codes[:, j]).sum())
        want = n * int((codes[:, i] * codes[:, j]).sum()) \
            - int(codes[:, i].sum()) * int(codes[:, j].sum())
        assert r["cov_num"] == want
        if prev is not None:
            assert abs(r["cov_num"]) <= prev  # ranked by |cov|
        prev = abs(r["cov_num"])


def test_scratch_handles_keep_one_entry_per_path(spark, tmp_path):
    """Rewriting an index's source manifest re-keys its cached handle
    and first row; the entries under the older manifest mtime are
    evicted, so each (application, path) holds one entry."""
    import os

    from iceberg_demo_spark import scratch

    root = str(tmp_path)
    spark.createDataFrame([(1, 2)], "a long, b long").write.parquet(
        os.path.join(root, "geom"))
    manifest = os.path.join(root, scratch._MANIFEST)
    full = os.path.join(root, "geom")
    for step in range(3):
        with open(manifest, "w") as fh:
            fh.write("{}")
        os.utime(manifest, ns=(step * 10**9, step * 10**9))
        assert scratch.cached_parquet_first(spark, root, "geom")["b"] == 2
        for cache in (scratch._PARQUET_HANDLES, scratch._FIRST_ROWS):
            keys = [k for k in cache if k[1] == full]
            assert len(keys) == 1 and keys[0][2] == step * 10**9, keys
