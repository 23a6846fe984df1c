"""Planted-duplicate tests: every near-dup operator must find a known
near-duplicate (a vacuously-green 0-row result certifies nothing), and the
text operators must survive degenerate documents (empty, sub-n-token,
non-Latin) under Spark 4 ANSI mode."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators import dedup as D
from windowsession_using_kafka_flink_docker_spark.operators import similarity as S
from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG


@pytest.fixture(scope="module")
def vec_df(spark):
    """64-d vectors: 0 and 1 unrelated; 100 = 0 scaled (cosine 1.0);
    101 = 0 with small noise on one coordinate (cosine ~0.999)."""
    base = [math.sin(i * 0.7) for i in range(64)]
    other = [math.cos(i * 1.3 + 1) for i in range(64)]
    scaled = [x * 2.0 for x in base]
    noisy = list(base)
    noisy[0] += 0.05
    rows = [(0, base, 0), (1, other, 0), (100, scaled, 0), (101, noisy, 0)]
    return spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )


class TestEmbeddingNearDups:
    def test_finds_planted_scaled_copy(self, spark, vec_df):
        pairs = {(r.id_a, r.id_b): r.cosine
                 for r in S.embedding_near_dups(vec_df).collect()}
        assert (0, 100) in pairs and pairs[(0, 100)] >= 0.999

    def test_finds_noisy_near_copy(self, spark, vec_df):
        pairs = {(r.id_a, r.id_b) for r in S.embedding_near_dups(vec_df).collect()}
        assert (0, 101) in pairs
        assert (0, 1) not in pairs and (1, 100) not in pairs

    def test_catalog_query_non_vacuous(self, spark, sf_dir):
        """The registered query plants 5 scaled copies — it must return
        exactly those 5 pairs at cosine 1.0 on the testdata."""
        rows = CATALOG["embedding_neardups"].spark(spark, sf_dir).collect()
        got = sorted((r.id_a, r.id_b) for r in rows)
        assert got == [(i, i + 1_000_000) for i in range(5)]
        assert all(r.cosine == 1.0 for r in rows)


class TestMultitableLsh:
    def test_planted_copy_always_collides(self, spark, vec_df):
        """A positively-scaled copy has the identical sign pattern, hence
        identical buckets in EVERY table — multiprobe must rank it #1."""
        out = S.multitable_signlsh_topk(
            vec_df, vec_df.where("vec_id = 0"), dim=64, k=3)
        rows = {r.rnk: (r.match_id, r.cosine) for r in out.collect()}
        assert rows[1][0] == 100 and rows[1][1] == 1.0

    def test_amplification_beats_single_table(self, spark, sf_dir):
        """On the unclustered test corpus, 8x5-bit OR-amplification must
        recover strictly more exact-top-10 pairs than one 10-bit table
        (measured: ~0.47 vs ~0.01 recall@10)."""
        from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.where(F.col("vec_id") < 10)
        exact = {(r.query_id, r.match_id)
                 for r in S.cosine_topk(emb, q, k=10).collect()}
        single = {(r.query_id, r.match_id)
                  for r in S.ann_cosine_topk(emb, q, dim=64, k=10).collect()}
        multi = {(r.query_id, r.match_id)
                 for r in S.multitable_signlsh_topk(emb, q, dim=64, k=10).collect()}
        assert len(multi & exact) > len(single & exact)
        assert len(multi & exact) >= 0.25 * len(exact)


@pytest.fixture(scope="module")
def doc_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),  # punct-only delta
        (3, "completely different text about spark streaming and kafka topics"),
        (4, ""),              # empty
        (5, "one"),           # sub-n tokens
        (6, "世界你好"),  # CJK-only: normalizes to empty
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


class TestTextNearDups:
    def test_minhash_finds_planted_pair(self, spark, doc_df):
        pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(doc_df).collect()}
        assert (1, 2) in pairs           # normalization collapses punctuation
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_ngram_finds_planted_pair_and_handles_degenerates(self, spark, doc_df):
        rows = D.ngram_jaccard_pairs(doc_df).collect()
        pairs = {(r.id_a, r.id_b): r.jaccard for r in rows}
        assert pairs.get((1, 2)) == 1.0
        assert (1, 3) not in pairs

    def test_simhash_finds_planted_pair(self, spark, doc_df):
        pairs = {(r.id_a, r.id_b) for r in D.simhash_near_dups(doc_df).collect()}
        assert (1, 2) in pairs

    def test_banding_checkpoint_is_deterministic(self, spark, doc_df):
        """r17 internals pin: minhash/simhash stage their banding/chunk
        index through an EAGER materialization barrier (localCheckpoint —
        r18 measured the filled-persist alternative at +12-14% query wall
        and kept the checkpoint with its tradeoff documented in-code),
        because the old lazy persist let the concurrently-submitted
        bucket-count and self-join-side builds race past the unfilled
        cache and re-run the whole signature pipeline per consumer. Two
        invocations must emit identical pair sets: the barrier is
        deterministic and changes nothing semantically — which is also
        what makes the two barrier mechanisms freely swappable."""
        mh1 = {tuple(r) for r in D.minhash_lsh_pairs(doc_df).collect()}
        mh2 = {tuple(r) for r in D.minhash_lsh_pairs(doc_df).collect()}
        sh1 = {tuple(r) for r in D.simhash_near_dups(doc_df).collect()}
        sh2 = {tuple(r) for r in D.simhash_near_dups(doc_df).collect()}
        assert mh1 == mh2 and sh1 == sh2
        assert mh1 and sh1  # non-vacuous: the planted pair is present

    def test_eager_filled_persist_fills_then_shares(self, spark):
        """r18 internals pin: eager_filled_persist returns a frame whose
        cache is (a) registered and (b) FILLED before any consumer runs
        — the barrier property that kills the racing-broadcast-build
        recompute — with a storage level that can spill to disk (the
        scale-safety argument for preferring it over localCheckpoint on
        corpus-proportional frames), and the frame stays recomputable
        (lineage intact), so an explicit unpersist is safe."""
        df = spark.range(1000).selectExpr("id", "id * 2 AS v")
        shared = D.eager_filled_persist(df)
        lvl = shared.storageLevel
        assert lvl.useMemory and lvl.useDisk  # spillable, not memory-pinned
        # the fill already happened at construction: the frame's OWN
        # cached RDD (the InMemoryRelation's column buffers, found via
        # the cache manager — not any RDD a previous test left cached)
        # holds every partition without any consumer having run yet
        cached = (spark._jsparkSession.sharedState().cacheManager()
                  .lookupCachedData(shared._jdf))
        assert cached.isDefined(), "frame is not registered as cached"
        buffers = (cached.get().cachedRepresentation().cacheBuilder()
                   .cachedColumnBuffers())
        jsc = spark.sparkContext._jsc.sc()
        own = [i for i in jsc.getRDDStorageInfo() if i.id() == buffers.id()]
        assert own and own[0].numCachedPartitions() == own[0].numPartitions(), \
            "persist was not filled eagerly"
        assert shared.count() == 1000  # consumers read the filled cache
        shared.unpersist()
        assert not shared.storageLevel.useMemory  # deterministic release

    def test_exact_dedup_groups(self, spark):
        df = spark.createDataFrame(
            [(1, "same"), (2, "same"), (3, "diff")], "doc_id BIGINT, text STRING"
        )
        rows = {r.keep_id: r.n_dups for r in D.exact_dedup(df).collect()}
        assert rows == {1: 2, 3: 1}


class TestDegenerateBuckets:
    """max_bucket_size must drop degenerate LSH buckets instead of letting
    the bucket self-join/probe go quadratic (the 100 TB failure mode: real
    encoder outputs cluster directionally into a few sign patterns)."""

    def _identical_corpus(self, spark, n=50):
        v = [math.sin(i * 0.7) for i in range(64)]
        return spark.createDataFrame(
            [(i, v, 0) for i in range(n)],
            "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
        )

    def test_near_dups_drops_degenerate_bucket(self, spark):
        df = self._identical_corpus(spark)
        out = S.embedding_near_dups(df, max_bucket_size=10)
        assert out.count() == 0  # bucket dropped wholesale, no n^2 join

    def test_near_dups_keeps_small_buckets(self, spark, vec_df):
        pairs = {(r.id_a, r.id_b)
                 for r in S.embedding_near_dups(vec_df, max_bucket_size=10).collect()}
        assert (0, 100) in pairs and (0, 101) in pairs

    def test_ann_topk_drops_degenerate_bucket(self, spark):
        df = self._identical_corpus(spark)
        q = df.where(F.col("vec_id") < 2)
        out = S.ann_cosine_topk(df, q, dim=64, k=5, max_bucket_size=10)
        assert out.count() == 0

    def test_ann_topk_uncapped_still_scores(self, spark):
        df = self._identical_corpus(spark, n=20)
        q = df.where(F.col("vec_id") < 2)
        out = S.ann_cosine_topk(df, q, dim=64, k=5, max_bucket_size=None)
        assert out.count() == 10  # 2 queries x top-5


class TestCatalogNearDupRecall:
    """Planted-pair recall on the REAL documents table (the
    embedding_neardups lesson: a rows-only output certifies nothing unless
    a known pair is proven present). Plants are near-copies of the first 3
    documents; the operators must surface every planted pair."""

    N_PLANT = 3

    def _with_plants(self, spark, sf_dir, mutate):
        from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        planted = docs.where(F.col("doc_id") < self.N_PLANT).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), mutate(F.col("text")).alias("text")
        )
        return docs.unionByName(planted)

    def test_minhash_catalog_recall(self, spark, sf_dir):
        # one-token edit: docs are >= 10 tokens, so word-3-shingle Jaccard
        # stays well above the 0.5 threshold and banding recall is ~1
        df = self._with_plants(
            spark, sf_dir,
            lambda t: F.regexp_replace(t, r"^\S+", "planted"),
        )
        pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(df).collect()}
        for i in range(self.N_PLANT):
            assert (i, i + 1_000_000) in pairs, f"planted pair {i} missed"

    def test_simhash_catalog_recall(self, spark, sf_dir):
        # punctuation-only delta: normalization collapses it, so the
        # signatures agree exactly — blocking and the Hamming join must
        # still surface the pair
        df = self._with_plants(spark, sf_dir, lambda t: F.concat(t, F.lit("!!!")))
        pairs = {(r.id_a, r.id_b) for r in D.simhash_near_dups(df).collect()}
        for i in range(self.N_PLANT):
            assert (i, i + 1_000_000) in pairs, f"planted pair {i} missed"


class TestConnectedComponents:
    def test_chain_transitivity_and_singletons(self, spark):
        """A-B and B-C (no A-C edge) must land in one cluster; isolated
        node stays a singleton; canonical = min id of the component."""
        from windowsession_using_kafka_flink_docker_spark.operators.cluster import (
            connected_components, neardup_clusters)
        nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 9, 10)], "doc_id long")
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (9, 10)], "id_a long, id_b long")
        comp = {r.id: r.comp for r in
                connected_components(nodes, pairs, id_col="doc_id",
                                     src="id_a", dst="id_b").collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 9: 9, 10: 9}

        out = {r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical)
               for r in neardup_clusters(nodes, pairs).collect()}
        assert out[1] == (1, 3, True)
        assert out[3] == (1, 3, False)
        assert out[7] == (7, 1, True)
        assert out[10] == (9, 2, False)

    def test_long_path_converges(self, spark):
        """A 12-node path graph needs multiple propagation rounds; the
        fixpoint loop must converge, not stop after one round."""
        from windowsession_using_kafka_flink_docker_spark.operators.cluster import (
            connected_components)
        n = 12
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                      "src long, dst long")
        comp = {r.id: r.comp for r in connected_components(nodes, edges).collect()}
        assert comp == {i: 0 for i in range(n)}


class TestConnectedComponentsProperty:
    def test_random_graphs_match_union_find(self, spark):
        """Propagation fixpoint == classic union-find on random graphs
        (deterministic seeds; covers forests, cliques, and disconnected
        mixes beyond the hand-built cases)."""
        import random

        from windowsession_using_kafka_flink_docker_spark.operators.cluster import (
            connected_components)

        def union_find(n_nodes, edge_list):
            parent = list(range(n_nodes))
            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x
            for a, b in edge_list:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            # min-label canonicalization to match the operator's contract
            comp = {}
            for v in range(n_nodes):
                r = find(v)
                comp.setdefault(r, []).append(v)
            return {v: min(vs) for r, vs in comp.items() for v in vs}

        for seed in (0, 1, 2):
            rng = random.Random(seed)
            n = rng.randint(5, 24)
            m = rng.randint(0, n * 2)
            edge_list = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
            edge_list = [(a, b) for a, b in edge_list if a != b]
            nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
            if edge_list:
                edges = spark.createDataFrame(edge_list, "src long, dst long")
            else:
                edges = spark.createDataFrame([], "src long, dst long")
            got = {r.id: r.comp for r in connected_components(nodes, edges).collect()}
            want = union_find(n, edge_list)
            assert got == want, f"seed={seed}: {got} != {want}"


def test_stage_caches_clear(spark, sf_dir):
    """clear_stage_caches unpersists the memoized shingle stage and empties
    both memos; the next call rebuilds from scratch."""
    from windowsession_using_kafka_flink_docker_spark.plans import llm_pipeline as L

    sh = L._shingle_stage(spark, sf_dir)
    assert sh.storageLevel.useMemory or sh.storageLevel.useDisk
    L._ngram_pairs(spark, sf_dir)
    assert L._SHINGLE_CACHE and L._NGRAM_PAIRS_CACHE
    L.clear_stage_caches()
    assert not L._SHINGLE_CACHE and not L._NGRAM_PAIRS_CACHE
    assert not (sh.storageLevel.useMemory or sh.storageLevel.useDisk)
    assert L._shingle_stage(spark, sf_dir).count() > 0


class TestSortedNeighborhoodRanged:
    def test_ranged_equals_windowed(self, spark, sf_dir):
        """The range-partitioned + boundary-ghost SNM (scale path) must
        emit EXACTLY the pairs of the single-window catalog entry — the
        same equality discipline as the bucketed as-of join."""
        from windowsession_using_kafka_flink_docker_spark.operators.dedup import (
            sorted_neighborhood_pairs_ranged,
        )
        from windowsession_using_kafka_flink_docker_spark.operators.text_analysis import (
            normalized_text,
        )
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import (
            CATALOG,
        )
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )

        docs = load_table(spark, sf_dir, "documents")
        nt = normalized_text("text")
        base = docs.select(
            "doc_id", nt.alias("nt"),
            F.array_distinct(F.split(nt, " ")).alias("toks"))
        got = sorted(map(str, sorted_neighborhood_pairs_ranged(
            base, w=3, num_ranges=8).collect()))
        want = sorted(map(str, CATALOG["sorted_neighborhood_neardups"]
                          .spark(spark, sf_dir).collect()))
        assert got == want and len(got) > 0

    def test_ranged_plan_has_no_single_partition_window(self, spark, sf_dir):
        """The scale path must not contain a global (empty-partition-key)
        window — that is the whole point."""
        from windowsession_using_kafka_flink_docker_spark.operators.dedup import (
            sorted_neighborhood_pairs_ranged,
        )
        from windowsession_using_kafka_flink_docker_spark.operators.text_analysis import (
            normalized_text,
        )
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )

        docs = load_table(spark, sf_dir, "documents")
        nt = normalized_text("text")
        base = docs.select(
            "doc_id", nt.alias("nt"),
            F.array_distinct(F.split(nt, " ")).alias("toks"))
        df = sorted_neighborhood_pairs_ranged(base)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("extended"))
        import re
        assert not re.search(r"Window \[.*\], \[\]", plan), (
            "global window (no partition keys) found in the scale path")


class TestContainmentPrefixFilter:
    """The containment prefix filter's exact-recall argument, swept with
    hypothesis in pure Python: for ANY pair of shingle sets with
    |A∩B|/|A| >= t, A's first |A| - ceil(t|A|) + 1 shingles under any
    fixed total order must intersect B — so the blocked join can never
    miss a qualifying pair."""

    def test_hypothesis_sweep(self):
        import math

        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=500, deadline=None)
        @given(
            a=st.sets(st.integers(0, 60), min_size=1, max_size=30),
            b=st.sets(st.integers(0, 60), min_size=1, max_size=30),
            t=st.sampled_from([0.5, 0.8, 0.9, 1.0]),
            seed=st.integers(0, 5),
        )
        def check(a, b, t, seed):
            containment = len(a & b) / len(a)
            if containment < t:
                return  # filter only promises recall of qualifying pairs
            # any fixed total order (here: hash-ish shuffle by seed)
            order = sorted(a, key=lambda x: (x * 2654435761 + seed) % 997)
            p = len(a) - math.ceil(t * len(a)) + 1
            assert set(order[:p]) & b, (
                "prefix filter missed a qualifying pair")

        check()

    def test_containment_detects_planted_quote(self, spark):
        """A short doc embedded verbatim in a long one must surface with
        containment 1.0 while its Jaccard is far below any symmetric
        threshold."""
        from windowsession_using_kafka_flink_docker_spark.operators.dedup import (
            containment_pairs, ngram_jaccard_pairs,
        )

        quote = "the quick brown fox jumps over the lazy dog again"
        filler = " ".join(f"word{i} token{i} item{i}" for i in range(120))
        docs = spark.createDataFrame(
            [(1, quote), (2, filler + " " + quote + " " + filler)],
            "doc_id LONG, text STRING")
        got = containment_pairs(docs).collect()
        assert [(r.contained_id, r.container_id, r.containment)
                for r in got] == [(1, 2, 1.0)]
        # the symmetric detector (same shingles, Jaccard >= 0.5) is blind
        assert ngram_jaccard_pairs(docs).count() == 0


class TestCurationAuditConsistency:
    """Cross-entry identities for the round-7 curation audits: each new
    report must agree with the primitives it claims to share stages
    with, re-derived independently in Python where cheap."""

    def test_novelty_brute_force(self, spark, sf_dir):
        import hashlib

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import (
            CATALOG,
        )
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )

        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "text").collect()

        def norm_tokens(text):
            import re

            t = re.sub(r"[^a-z0-9 ]", " ", text.lower())
            t = re.sub(r" +", " ", t).strip()
            return t.split(" ") if t else []

        def shingles(text):
            toks = norm_tokens(text)
            if len(toks) <= 3:
                return {" ".join(toks[:3])} if toks else set()
            return {" ".join(toks[i:i + 3])
                    for i in range(len(toks) - 2)}

        split = {}
        sh = {}
        for r in docs:
            split[r.doc_id] = ("eval" if hashlib.md5(r.text.encode())
                               .hexdigest()[0] in "0123" else "train")
            sh[r.doc_id] = shingles(r.text)
        train_union = set()
        for d, s in sh.items():
            if split[d] == "train":
                train_union |= s
        got = {r.doc_id: (r.n_shingles, r.n_seen, r.novelty_e4)
               for r in CATALOG["eval_ngram_novelty"]
               .spark(spark, sf_dir).collect()}
        want_ids = {d for d in sh if split[d] == "eval" and sh[d]}
        assert set(got) == want_ids
        for d in want_ids:
            n = len(sh[d])
            seen = len(sh[d] & train_union)
            assert got[d] == (n, seen, (n - seen) * 10000 // n), d

    def test_cluster_histogram_consistent_with_components(
            self, spark, sf_dir):
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import (
            CATALOG,
        )

        comp = CATALOG["neardup_clusters"].spark(spark, sf_dir).collect()
        hist = {r.cluster_size: r for r in
                CATALOG["dup_cluster_size_histogram"]
                .spark(spark, sf_dir).collect()}
        from collections import Counter

        sizes = Counter(r.cluster_size for r in comp
                        if r.is_canonical)
        assert set(hist) == set(sizes)
        for size, n_clusters in sizes.items():
            row = hist[size]
            assert row.n_clusters == n_clusters
            assert row.n_docs == size * n_clusters
            assert row.n_removable == (size - 1) * n_clusters
        # and the histogram must account for every document exactly once
        assert sum(r.n_docs for r in hist.values()) == len(comp)

    def test_zipf_agrees_with_heavy_hitters(self, spark, sf_dir):
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import (
            CATALOG,
        )

        hh = CATALOG["heavy_hitter_tokens"].spark(spark, sf_dir).collect()
        zipf = sorted(CATALOG["zipf_rank_frequency"]
                      .spark(spark, sf_dir).collect(),
                      key=lambda r: r.rank)
        assert [(r.token, r.n) for r in zipf] == [(r.token, r.n)
                                                  for r in hh]
        n1 = zipf[0].n
        for r in zipf:
            assert r.zipf_expected == n1 // r.rank
            assert r.deviation_e4 == (abs(r.n - r.zipf_expected) * 10000
                                      // r.zipf_expected)


class TestSimhashVectorizedSignature:
    """The Arrow-batched signature (simhash_signature_udf) must equal the
    pure-expression fold form (simhash_expr) bit for bit — on both hash
    families (signed xxhash64 64-bit and md5-portable 60-bit), including
    sign-bit votes and empty token arrays."""

    @pytest.mark.parametrize("portable,bits", [(False, 64), (True, 60)])
    def test_matches_expression_form_on_corpus(self, spark, sf_dir,
                                               portable, bits):
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )

        docs = load_table(spark, sf_dir, "documents")
        tok = (D.token_hashes_md5_expr("text") if portable
               else D.token_hashes_expr("text"))
        base = docs.select(F.col("doc_id"), tok.alias("_h"))
        old = base.select(
            "doc_id", D.simhash_expr(F.col("_h"), bits=bits).alias("old"))
        new = base.select(
            "doc_id", D.simhash_signature_udf(bits)(F.col("_h")).alias("new"))
        diff = (old.join(new, "doc_id")
                .where(F.col("old") != F.col("new")).count())
        assert diff == 0

    def test_edge_arrays(self, spark):
        # empty token array -> all votes tie -> signature 0 (both forms);
        # single negative hash -> every set bit of its two's complement
        rows = spark.createDataFrame(
            [(1, []), (2, [-1]), (3, [-(2**63), 2**63 - 1])],
            "doc_id BIGINT, _h ARRAY<BIGINT>")
        both = rows.select(
            "doc_id",
            D.simhash_expr(F.col("_h"), bits=64).alias("old"),
            D.simhash_signature_udf(64)(F.col("_h")).alias("new")).collect()
        got = {r.doc_id: (r.old, r.new) for r in both}
        assert got[1] == (0, 0)
        assert got[2] == (-1, -1)  # all 64 bits vote positive
        for o, n in got.values():
            assert o == n


class TestMinhashVectorizedSignature:
    """The Arrow-batched MinHash signature (minhash_signature_udf) must
    equal the array_min/transform expression form bit for bit on both
    base-hash families."""

    @pytest.mark.parametrize("portable", [False, True])
    def test_matches_expression_form_on_corpus(self, spark, sf_dir,
                                               portable):
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )

        docs = load_table(spark, sf_dir, "documents")
        sh = D.shingle_table(docs)
        try:
            base_fn = (D.base_hashes_md5_expr if portable
                       else D.base_hashes_expr)
            base = sh.select("_id", base_fn(F.col("_sh")).alias("_b"))
            old = base.select(
                "_id", D.minhash_signature(F.col("_b"), 64).alias("old"))
            new = base.select(
                "_id", D.minhash_signature_udf(64)(F.col("_b")).alias("new"))
            diff = (old.join(new, "_id")
                    .where(F.expr("old IS DISTINCT FROM new")).count())
            assert diff == 0
        finally:
            sh.unpersist()

    def test_empty_base_array_yields_null_mins(self, spark):
        rows = spark.createDataFrame(
            [(1, []), (2, [17, 23])], "doc_id BIGINT, _b ARRAY<BIGINT>")
        got = rows.select(
            "doc_id",
            D.minhash_signature(F.col("_b"), 8).alias("old"),
            D.minhash_signature_udf(8)(F.col("_b")).alias("new")).collect()
        for r in got:
            assert list(r.old) == list(r.new)
        assert all(v is None for v in got[0].old or [None])


class TestContainmentCanonicalSurvivors:
    """containment_canonical_survivors: the survivor argmax recomputed
    definitionally — union-find over the entry's own (oracled)
    containment pair stage, then keep the longest doc per cluster with
    doc_id as the tiebreak."""

    def test_matches_union_find_argmax(self, spark, sf_dir):
        from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
            _containment_pairs,
            containment_canonical_survivors,
        )
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )

        pairs = [(r.contained_id, r.container_id)
                 for r in _containment_pairs(spark, sf_dir)
                 .select("contained_id", "container_id").collect()]
        chars = {r.doc_id: r.n_chars
                 for r in load_table(spark, sf_dir, "documents")
                 .select("doc_id", "n_chars").collect()}

        parent = {d: d for d in chars}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        clusters = {}
        for d in chars:
            clusters.setdefault(find(d), []).append(d)
        want = {}
        for root, members in clusters.items():
            # canonical cluster id = min member (the operator's labeling)
            cid = min(members)
            # survivor: longest doc, ties by ascending doc_id
            surv = min(members, key=lambda d: (-chars[d], d))
            want[cid] = (surv, chars[surv], len(members), len(members) - 1)

        got = {r.cluster_id: (r.doc_id, r.n_chars, r.cluster_size,
                              r.n_dropped)
               for r in containment_canonical_survivors(spark, sf_dir)
               .collect()}
        assert got == want
