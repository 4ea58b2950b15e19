"""Behavioral invariants for the round-4b operators: KMV estimation
error, MinHash-exact recall against true Jaccard, PageRank mass
conservation, capped-triangle monotonicity, chunk reconstruction."""

from __future__ import annotations

import pcap_to_parquet_spark.operators  # noqa: F401  (registers queries)

from pcap_to_parquet_spark.registry import QUERIES
from tests.conftest import SF0001, SF001
import pytest


def test_kmv_estimates_within_sketch_error(spark):
    """A full K=64 sketch has relative standard error ~1/sqrt(K-2) ≈
    12.6%; assert every estimate lands within 4 sigma, and that
    not-yet-full sketches are EXACT by construction."""
    rows = QUERIES["q_kmv_distinct"](spark, SF001).collect()
    assert rows, "no groups"
    for r in rows:
        if r.exact_distinct < 64:
            assert r.est_distinct == float(r.exact_distinct), r
        else:
            rel = abs(r.est_distinct - r.exact_distinct) / r.exact_distinct
            assert rel < 0.5, (r.key, r.est_distinct, r.exact_distinct)
    keys = {r.key for r in rows}
    assert "__merged__" in keys


@pytest.mark.slow  # >=5s
def test_minhash_exact_recalls_true_near_dups(spark, tiny_docs_dir):
    """On the planted-duplicate corpus the exact-twin MinHash must
    surface the identical pair (0,1) with estimate 1.0 and the
    one-word-changed pairs with a high estimate."""
    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in QUERIES["q_minhash_exact"](spark, tiny_docs_dir).collect()
    }
    assert got.get((0, 1)) == 1.0
    # doc 2 differs in 1 word of 30 → true 3-gram Jaccard ≈ 0.83; the
    # 128-perm estimate must clear the 0.7 emission threshold
    assert (0, 2) in got and got[(0, 2)] >= 0.7
    assert (1, 2) in got
    # unrelated and sub-shingle docs never pair
    assert not any(3 in p or 4 in p for p in got)


@pytest.mark.slow  # >=5s
def test_minhash_exact_agrees_with_numpy_path_on_candidates(spark):
    """The md5 twin and the xxhash production path disagree on hash
    values but must largely agree on WHO is a near-duplicate: at
    sf0.001 every pair the numpy path reports with est ≥ 0.9 must be
    reported by the exact twin too (both run 128 perms / 16 bands over
    identical shingle sets — only the base hash differs)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_minhash_exact"](spark, SF0001).collect()
    }
    numpy_hi = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_minhash"](spark, SF0001).collect()
        if r.est_jaccard >= 0.9
    }
    assert numpy_hi <= exact, numpy_hi - exact


def test_pagerank_mass_and_floor(spark):
    """Integer PageRank: every rank ≥ the 0.15 base, and the top-20
    ranks are in (weakly) descending order with suppliers/customers
    both representable."""
    rows = QUERIES["q_pagerank"](spark, SF0001).collect()
    assert len(rows) == 20
    prs = [r.pr_scaled for r in rows]
    assert prs == sorted(prs, reverse=True)
    assert all(p >= 150_000_000 for p in prs)
    assert {r.node_type for r in rows} <= {"customer", "supplier"}


def test_triangle_cap_is_conservative(spark):
    """Capping can only remove edges and triangles, never add."""
    full = QUERIES["q_triangle_count"](spark, SF0001).collect()[0]
    capped = QUERIES["q_triangle_cap"](spark, SF0001).collect()[0]
    assert capped.n_edges_total == full.n_edges
    assert capped.n_edges_kept <= capped.n_edges_total
    assert capped.n_triangles <= full.n_triangles
    assert capped.n_capped_nodes >= 0


def test_doc_chunks_reconstruct_documents(spark):
    """Chunks must tile each document: chunk i starts at i*stride,
    every chunk except the last is full-size, and stitching chunk 0
    plus the non-overlapped tail of each later chunk rebuilds the
    exact text."""
    docs = {
        r.doc_id: r.text
        for r in QUERIES["q_doc_chunks"](spark, SF0001)
        .sparkSession.read.parquet(SF0001 + "/documents.parquet")
        .collect()
    }
    out = QUERIES["q_doc_chunks"](spark, SF0001).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        text = docs[doc_id]
        rebuilt = ""
        for r in chunks:
            assert r.chunk_start == r.chunk_idx * 150
            if r.chunk_idx < len(chunks) - 1:
                assert r.chunk_len == 200
            rebuilt = rebuilt[: r.chunk_start] + r.chunk_text
        assert rebuilt == text, doc_id


@pytest.mark.slow  # >=5s
def test_minhash_paths_reject_unrelated_pairs(spark):
    """Regression for the correlated-permutation bug (p=2^61-1 over
    31-bit hashes): with a sound permutation field, a pair with true
    3-gram Jaccard < 0.3 has essentially zero probability of an
    estimate ≥ 0.7 over 128 permutations — assert NO reported pair is
    wildly above its true Jaccard on sf0.001."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF0001}/documents.parquet'"
    )
    truth = {
        (a, b): j
        for a, b, j in con.execute(
            r"""
            WITH tok AS (SELECT doc_id,
                   list_filter(regexp_split_to_array(text,'\s+'), t->t<>'') AS ws
                   FROM documents),
            sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
                       generate_series(1,len(ws)-2),
                       i->ws[i]||'|'||ws[i+1]||'|'||ws[i+2])) AS sh
                   FROM tok WHERE len(ws)>=3),
            n AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id)
            SELECT a.doc_id, b.doc_id,
                   COUNT(*)::DOUBLE/(ANY_VALUE(na.n)+ANY_VALUE(nb.n)-COUNT(*))
            FROM sh a JOIN sh b ON a.sh=b.sh AND a.doc_id<b.doc_id
            JOIN n na ON na.doc_id=a.doc_id JOIN n nb ON nb.doc_id=b.doc_id
            GROUP BY a.doc_id, b.doc_id
            """
        ).fetchall()
    }
    for qname in ("q_minhash_exact", "q_dedup_minhash"):
        for r in QUERIES[qname](spark, SF0001).collect():
            true_j = truth.get((r.doc_a, r.doc_b), 0.0)
            assert true_j >= 0.5, (qname, r.doc_a, r.doc_b, r.est_jaccard, true_j)


def test_mmr_diversify_properties(spark):
    """MMR invariants: rank 1 is the raw top-similarity candidate (no
    penalty yet), ranks are 1..5 over distinct vectors, every
    penalized score is ≤ λ·sim, and the MMR set is no LESS diverse
    than the naive top-5 (its max intra-set similarity is ≤ naive's)."""
    import numpy as np

    rows = sorted(
        QUERIES["q_mmr_diversify"](spark, SF001).collect(), key=lambda r: r.mmr_rank
    )
    assert [r.mmr_rank for r in rows] == [1, 2, 3, 4, 5]
    assert len({r.vec_id for r in rows}) == 5
    assert abs(rows[0].mmr_score - round(0.7 * rows[0].cos_sim, 6)) <= 1e-6
    # later scores subtract 0.3 * max-sim-to-selected, which can be
    # NEGATIVE for anticorrelated embeddings — only boundedness holds
    for r in rows[1:]:
        assert 0.7 * r.cos_sim - 0.3 <= r.mmr_score <= 0.7 * r.cos_sim + 0.3

    em = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(SF001 + "/embeddings.parquet").collect()
    }

    def max_pair_sim(ids):
        worst = -1.0
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                va, vb = em[a], em[b]
                s = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                worst = max(worst, s)
        return worst

    qv = em[0]
    sims = sorted(
        (
            (float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), vid)
            for vid, v in em.items()
            if vid != 0
        ),
        reverse=True,
    )
    naive5 = [vid for _, vid in sims[:5]]
    mmr5 = [r.vec_id for r in rows]
    assert max_pair_sim(mmr5) <= max_pair_sim(naive5) + 1e-9


def test_attribution_conserves_purchase_value(spark):
    """Credit conservation: summed attributed value across channels
    (including 'direct') equals total purchase value to rounding."""
    from pyspark.sql import functions as F

    from pcap_to_parquet_spark.sources import load_table

    rows = QUERIES["q_attribution"](spark, SF001).collect()
    total_attr = sum(r.attributed_value for r in rows)
    total_purch = (
        load_table(spark, SF001, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum("value"))
        .collect()[0][0]
    )
    assert abs(total_attr - total_purch) < 0.01 * max(len(rows), 1)
    assert {r.channel for r in rows} <= {"view", "click", "direct"}


def test_star_rounds_match_label_propagation(spark):
    """Large-star/small-star must produce the exact clustering of
    q_dedup_clusters' min-label propagation — same components, same
    min-id cluster labels."""
    star = {
        (r.doc_id, r.cluster_id)
        for r in QUERIES["q_components_star"](spark, SF0001).collect()
    }
    prop = {
        (r.doc_id, r.cluster_id)
        for r in QUERIES["q_dedup_clusters"](spark, SF0001).collect()
    }
    assert star == prop


@pytest.mark.slow  # >=5s
def test_star_contract_fuzz_against_union_find(spark):
    """Randomized graphs: star contraction must label every node with
    its component minimum — verified against a pure-Python union-find
    on 10 random graphs (including dense, sparse, and path-heavy
    shapes that stress multi-round convergence)."""
    import random

    from pcap_to_parquet_spark.operators.llm import star_contract

    rng = random.Random(1234)
    for trial in range(10):
        n = rng.randint(2, 60)
        n_edges = rng.randint(1, 2 * n)
        edges = set()
        while len(edges) < n_edges:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((a, b))
        # a long path stresses round count (diameter ~ n)
        if trial == 9:
            edges = {(i, i + 1) for i in range(59)}
        parent = list(range(n + 60))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {x for e in edges for x in e}
        expected = {x: find(x) for x in nodes}
        df = spark.createDataFrame(sorted(edges), "u long, v long")
        got = {r.doc_id: r.cluster_id for r in star_contract(df).collect()}
        assert got == expected, (trial, n, len(edges))


@pytest.mark.slow  # >=5s
def test_pagerank_kernel_fuzz_against_python(spark):
    """Randomized directed graphs: the fixed-point kernel must equal a
    pure-Python integer reference BIT-FOR-BIT (that's the whole point
    of fixed-point arithmetic)."""
    import random

    from pcap_to_parquet_spark.operators.behavior import pagerank_iterations

    rng = random.Random(77)
    for trial in range(6):
        n = rng.randint(2, 40)
        edges = set()
        for _ in range(rng.randint(1, 3 * n)):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((a, b))
        if not edges:
            continue
        deg = {}
        for a, _ in edges:
            deg[a] = deg.get(a, 0) + 1
        pr = {a: 1_000_000_000 for a in deg}
        for _ in range(3):
            acc = {}
            for a, b in edges:
                if a in pr:
                    acc[b] = acc.get(b, 0) + pr[a] // deg[a]
            pr = {b: 150_000_000 + (85 * s) // 100 for b, s in acc.items()}
        df = spark.createDataFrame(sorted(edges), "src long, dst long")
        got = {r.node: r.pr for r in pagerank_iterations(df, 3).collect()}
        assert got == pr, (trial, n, len(edges))


@pytest.mark.slow  # >=5s
def test_doc_chunks_boundary_lengths(spark, tmp_path):
    """Chunk-count boundaries: empty text (one empty chunk), exactly
    window-size (one chunk), one char over (two chunks), exactly
    size+stride (two chunks), one over that (three) — pinned against
    the same DuckDB oracle on a custom table."""
    import duckdb

    import pcap_to_parquet_spark.operators.text_pipeline as tp
    from pcap_to_parquet_spark.registry import ORACLES

    rows = [
        (0, "", "en", "s", 0),
        (1, "x" * 200, "en", "s", 200),
        (2, "y" * 201, "en", "s", 201),
        (3, "z" * 350, "en", "s", 350),
        (4, "w" * 351, "en", "s", 351),
    ]
    d = tmp_path / "sf"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    got = QUERIES["q_doc_chunks"](spark, str(d)).collect()
    counts = {}
    for r in got:
        counts[r.doc_id] = counts.get(r.doc_id, 0) + 1
    assert counts == {0: 1, 1: 1, 2: 2, 3: 2, 4: 3}, counts
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = {
        (a, b): (c, t, l)
        for a, b, c, t, l in con.execute(ORACLES["q_doc_chunks"]).fetchall()
    }
    mine = {
        (r.doc_id, r.chunk_idx): (r.chunk_start, r.chunk_text, r.chunk_len)
        for r in got
    }
    assert mine == oracle


@pytest.mark.slow  # >=5s
def test_kmv_matches_python_reference(spark, tmp_path):
    """Randomized events: the KMV per-group sketch rows must equal a
    pure-Python KMV built from the same md5 hashes (k-th minimum,
    estimator formula, exact-when-not-full, and the merged row)."""
    import hashlib
    import random

    rng = random.Random(9)
    rows = []
    for et, n_users in (("a", 10), ("b", 64), ("c", 200), ("d", 1)):
        for _ in range(n_users * 3):
            uid = rng.randrange(n_users * 7)
            rows.append((len(rows), "2024-01-01 00:00:00", uid, et, 1.0, "{}"))
    d = tmp_path / "sf"
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) ts", "user_id", "event_type", "value", "props"
    ).coalesce(1).write.parquet(str(d / "events.parquet"))

    def h32(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16)

    K = 64
    by_type = {}
    for _, _, uid, et, _, _ in rows:
        by_type.setdefault(et, set()).add(h32(uid))

    def est_of(hashes):
        mins = sorted(hashes)[:K]
        if len(mins) < K:
            return float(len(mins))
        return round(63 * 4294967296.0 / mins[-1], 2)

    expected = {et: est_of(hs) for et, hs in by_type.items()}
    merged = set()
    for hs in by_type.values():
        merged.update(sorted(hs)[:K])
    expected["__merged__"] = est_of(merged)
    got = {
        r.key: r.est_distinct for r in QUERIES["q_kmv_distinct"](spark, str(d)).collect()
    }
    assert got == expected
    exact = {r.key: r.exact_distinct for r in QUERIES["q_kmv_distinct"](spark, str(d)).collect()}
    assert exact["__merged__"] == len(set().union(*by_type.values()))
