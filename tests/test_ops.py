"""Training-data-pipeline operator tests (itemsjs_spark.ops): LSH recall
vs brute force, MinHash-LSH candidate generation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from itemsjs_spark.ops import dedup, embeddings, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").persist()


def test_lsh_topk_recall_vs_bruteforce(spark, emb):
    queries = emb.filter(F.col("vec_id") < 8)
    exact = embeddings.cosine_topk(emb, queries, k=10).collect()
    approx = embeddings.lsh_bucketed_topk(emb, queries, k=10, n_planes=2).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # 2 planes → 4 buckets over 500 vecs: random-hyperplane LSH on a
    # near-isotropic embedding set gives modest recall; assert sanity
    # (recall/precision tradeoffs are workload tuning, not correctness)
    assert sum(recalls) / len(recalls) >= 0.3
    # approx results are a subset of same-bucket exact rescoring: every
    # returned cosine must equal the exact cosine for that pair
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]


def _components(pairs):
    """Union-find over (a, b) edges → {node: component_root}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_minhash_lsh_candidates_catch_near_dups(spark, docs):
    """Planted near-dups (jaccard ≥ 0.9) must be CONNECTED in the LSH
    candidate graph (exact-sig clusters are collapsed to star edges, so
    direct pair membership is not the invariant — connectivity is)."""
    true_pairs = {
        (r["a"], r["b"])
        for r in dedup.jaccard_pairs(docs, "doc_id", threshold=0.9).collect()
    }
    assert true_pairs, "corpus should contain planted near-duplicates"
    sigs = dedup.minhash_signatures(docs, "doc_id", k=8)
    cands = {
        (r["a"], r["b"])
        for r in dedup.lsh_candidate_pairs(sigs, "doc_id", k=8).collect()
    }
    comp = _components(cands)
    # 4 bands × 2 rows at j≥0.9: P(miss) = (1-j^2)^4 ≈ 0.1% — allow none
    missed = {
        (a, b)
        for a, b in true_pairs
        if comp.get(a, a) != comp.get(b, b)
    }
    assert not missed, f"LSH disconnected near-dup pairs: {sorted(missed)[:5]}"


def test_lsh_exact_dup_cluster_is_linear(spark):
    """10k exact duplicates must yield O(n) star edges, not n²/2 clique
    pairs — the collapse_exact bound (VERDICT r1 scale-killer #2)."""
    n_dups, n_unique = 10_000, 200
    dup = spark.range(n_dups).select(
        F.col("id").alias("doc_id"),
        F.lit("the exact same boilerplate text repeated verbatim").alias("text"),
    )
    uniq = spark.range(n_unique).select(
        (F.col("id") + n_dups).alias("doc_id"),
        F.concat(F.lit("unique words "), F.md5(F.col("id").cast("string")),
                 F.lit(" "), F.md5((F.col("id") + 7).cast("string")),
                 F.lit(" "), F.md5((F.col("id") + 13).cast("string"))).alias("text"),
    )
    sigs = dedup.minhash_signatures(dup.unionByName(uniq), "doc_id", k=8)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", k=8)
    n_pairs = pairs.count()
    # star edges: n_dups - 1 for the big cluster (+ a handful of rep
    # pairs between unique docs at most); nothing near n²/2 ≈ 5e7
    assert n_pairs < n_dups + n_unique ** 2
    assert n_pairs >= n_dups - 1
    # the big cluster is fully connected through its star
    comp = _components(
        (r["a"], r["b"]) for r in pairs.filter(F.col("b") < n_dups).collect()
    )
    roots = {comp.get(i, i) for i in range(n_dups)}
    assert roots == {0}


def test_lsh_bucket_cap_spill_rule(spark):
    """Band buckets above max_bucket_size contribute no pairs."""
    # 60 docs with DISTINCT texts engineered to share nothing — then
    # check the cap by shrinking it below the planted-cluster size
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("common base words here plus "),
                 F.md5(F.col("id").cast("string"))).alias("text"),
    )
    sigs = dedup.minhash_signatures(docs, "doc_id", k=8).persist()
    uncapped = dedup.lsh_candidate_pairs(
        sigs, "doc_id", k=8, max_bucket_size=None
    ).count()
    capped = dedup.lsh_candidate_pairs(
        sigs, "doc_id", k=8, max_bucket_size=2
    ).count()
    assert capped <= uncapped
    sigs.unpersist()


def test_jaccard_shingle_df_cap_bounds_hot_key(spark):
    """One shingle in 50% of docs: without the cap the candidate join is
    quadratic in that shingle's df; with it, only true near-dups pair."""
    n = 400
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # every even doc shares the hot 3-gram "the hot shingle";
        # unique tail keeps the docs otherwise disjoint
        F.when(
            F.col("id") % 2 == 0,
            F.concat(F.lit("the hot shingle "), F.md5(F.col("id").cast("string")),
                     F.lit(" "), F.md5((F.col("id") + 3).cast("string"))),
        ).otherwise(
            F.concat(F.md5(F.col("id").cast("string")), F.lit(" x "),
                     F.md5((F.col("id") + 3).cast("string")), F.lit(" y z w"))
        ).alias("text"),
    )
    # plant one true near-dup pair with rare shared shingles
    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    plant = spark.createDataFrame(
        [(n, dup_text), (n + 1, dup_text + " iota")], "doc_id long, text string"
    )
    docs = base.unionByName(plant)
    capped = dedup.jaccard_pairs(
        docs, "doc_id", threshold=0.5, max_shingle_df=10
    ).collect()
    got = {(r["a"], r["b"]) for r in capped}
    assert (n, n + 1) in got, "df cap must not drop rare-shingle near-dups"
    # the hot shingle (df=200) is cut: no pair owes its candidacy to it —
    # candidate row count stays near the true-dup count, not 200²/2
    assert len(capped) < 50


def test_text_ops_shapes(spark, docs):
    n = docs.count()
    assert text.language_id(docs).count() == n
    q = text.quality_score(docs).select("quality").agg(F.min("quality"), F.max("quality")).collect()[0]
    assert 0.0 <= q[0] <= q[1] <= 1.0
    fp = text.fingerprint(docs).select("fingerprint").distinct().count()
    assert fp > 1


def test_stopword_ratio_custom_column_name(spark, docs):
    """Regression: the numerator must come from the PASSED column, not a
    hardcoded `text` — language_id over a renamed body column."""
    renamed = docs.select("doc_id", F.col("text").alias("body"))
    out = text.language_id(renamed, text_col="body").select(
        "doc_id", "stopword_ratio"
    )
    ref = text.language_id(docs).select("doc_id", "stopword_ratio")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))


def test_ivf_multiprobe_recall_supersets_single_cell(spark, emb):
    """Multi-probe IVF candidates ⊇ single-cell LSH candidates (same
    planes), so recall can only improve; scores stay exact-cosine."""
    queries = emb.filter(F.col("vec_id") < 8)
    exact = embeddings.cosine_topk(emb, queries, k=10).collect()
    lsh = embeddings.lsh_bucketed_topk(emb, queries, k=10, n_planes=8).collect()
    ivf = embeddings.ivf_topk(emb, queries, k=10, n_planes=8).collect()

    def recall(rows):
        exact_sets, got = {}, {}
        for r in exact:
            exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(exact_sets[q] & got.get(q, set())) / len(exact_sets[q])
            for q in exact_sets
        ) / len(exact_sets)

    assert recall(ivf) >= recall(lsh)
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]


def test_langid_chargram_picks_profile_language(spark):
    rows = [
        (1, "we went to the house and the dog ran to the gate of it"),
        (2, "das ist der hund und die katze in der schule und ein haus"),
        (3, "le chat est dans les maisons et une porte est dans le mur"),
        (4, "el gato y los perros en una cancion que habla de el mar"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in text.langid_chargram(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es"}
    # per-lang scores present and the argmax score is their max
    row = text.langid_chargram(df).filter(F.col("doc_id") == 1).collect()[0]
    assert row["lang_score"] == max(
        row["score_de"], row["score_en"], row["score_es"], row["score_fr"]
    )


def test_learned_chargram_profiles_classify_heldout(spark):
    """Profiles learned from a labeled sample (one aggregation pass)
    classify held-out text of the same languages, and the learned
    grams inline into the identical SQL formula on Spark and DuckDB."""
    import duckdb

    train = [
        ("en", "the cat and the dog went to the house of the man and the boy"),
        ("en", "this is the end of the story and the start of the other one"),
        ("en", "we are in the garden and the tree is near the gate of it"),
        ("de", "der hund und die katze sind in der schule und das haus ist alt"),
        ("de", "die frau und der mann gehen in die stadt und sehen das auto"),
        ("de", "das kind und der lehrer sind nicht in der klasse und der halle"),
    ] * 3
    df = spark.createDataFrame(train, "lang string, text string")
    profiles = text.learn_chargram_profiles(
        df, grams_per_lang=6, gram_len=4, min_count=2
    )
    assert set(profiles) == {"en", "de"}
    for p in profiles.values():
        assert p and all(0 < w <= 1.0 for w in p.values())
        assert all(set(g) <= set("abcdefghijklmnopqrstuvwxyz ") for g in p)

    held = [
        (1, "the bird and the fish are in the water near the house"),
        (2, "der vogel und die fische sind in der stadt und der park"),
    ]
    hdf = spark.createDataFrame(held, "doc_id long, text string")
    got = {
        r["doc_id"]: r["lang_pred"]
        for r in text.langid_chargram(hdf, profiles=profiles).collect()
    }
    assert got == {1: "en", 2: "de"}

    # formula portability: DuckDB evaluates the same inlined text to the
    # same score (6-decimal round happens in both engines identically)
    srow = (
        text.langid_chargram(hdf, profiles=profiles)
        .filter(F.col("doc_id") == 1)
        .collect()[0]
    )
    for lang in profiles:
        expr = text.chargram_score_sql("t", profiles[lang])
        dv = duckdb.sql(
            f"select round(cast({expr} as double), 6) from "
            f"(select '{held[0][1]}' as t)"
        ).fetchone()[0]
        assert srow[f"score_{lang}"] == dv


def test_chunk_dedup_removes_corpus_repeated_chunks(spark):
    boiler = "subscribe to our newsletter"  # 4-token chunk planted in 3 docs
    rows = [
        (1, f"{boiler} alpha beta gamma delta"),
        (2, f"{boiler} epsilon zeta eta theta"),
        (3, f"{boiler} iota kappa lambda mu"),
        (4, "unique words only here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text.chunk_dedup(df, "doc_id", window=4, min_docs=3).collect()
    }
    for d in (1, 2, 3):
        assert out[d]["n_removed"] == 1, out[d]
        assert boiler not in out[d]["clean_text"]
    assert out[4]["n_removed"] == 0
    assert out[4]["clean_text"] == rows[3][1]
    # chunk order is preserved in the reassembled text
    assert out[1]["clean_text"] == "alpha beta gamma delta"


def test_pii_scrub_masks_emails_and_urls(spark):
    rows = [
        (1, "mail me at a.b-c_1@sub.example.org thanks"),
        (2, "docs at https://example.com/a/b?q=1 and http://x.io/z"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.pii_scrub(df).collect()}
    assert out[1]["n_emails"] == 1 and "<EMAIL>" in out[1]["scrubbed_text"]
    assert "@" not in out[1]["scrubbed_text"]
    assert out[2]["n_urls"] == 2
    assert out[2]["scrubbed_text"] == "docs at <URL> and <URL>"
    assert out[3]["n_emails"] == 0 and out[3]["n_urls"] == 0
    assert out[3]["scrubbed_text"] == rows[2][1]


def test_cosine_neardup_pairs_and_cell_cap(spark):
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    near = [v + rng.uniform(-0.01, 0.01) for v in base]
    far = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(6)]
    rows = [(0, base), (1, near)] + [(i + 2, v) for i, v in enumerate(far)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embeddings.cosine_neardup_pairs(df, threshold=0.95).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(0, 1)]
    assert pairs[0]["cosine"] >= 0.99
    # skew spill rule: a degenerate cluster (30 near-identical vectors →
    # one cell) is dropped from pair generation when over the cap
    clones = [(100 + i, [v + rng.uniform(-0.001, 0.001) for v in base]) for i in range(30)]
    big = spark.createDataFrame(rows + clones, "vec_id long, embedding array<double>")
    capped = embeddings.cosine_neardup_pairs(big, threshold=0.95, max_cell_size=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert all(a < 100 and b < 100 for a, b in got)
    uncapped = embeddings.cosine_neardup_pairs(big, threshold=0.95)
    assert uncapped.count() > 30 * 29 / 4  # the quadratic mass the cap removes


def test_decontaminate_flags_benchmark_overlap(spark):
    from itemsjs_spark.ops import dedup

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),  # copy
            (2, "a wholly different sentence with no shared trigrams at all"),
            (3, "he said the quick brown fox is fast"),  # partial overlap
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in dedup.decontaminate(corpus, "doc_id", ref, min_hits=3).collect()
    }
    assert got[1][1] is True and got[1][0] == 8  # 10 tokens -> 8 trigrams
    assert got[2] == (0, False)
    assert got[3][0] == 2 and got[3][1] is False  # 2 shared < min_hits 3


def test_repetition_signals_planted(spark):
    from itemsjs_spark.ops import text as t

    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),     # bigrams repeat heavily
            (2, "one two three four five six"),    # all distinct
            (3, "solo"),                           # too short for bigrams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["top_bigram_frac"], r["dup_trigram_frac"])
        for r in t.repetition_signals(df, "doc_id").collect()
    }
    # 5 bigrams: "spam ham" x3, "ham spam" x2 -> top 3/5
    assert got[1][0] == 0.6
    # 4 trigrams: "spam ham spam" x2, "ham spam ham" x2 -> 1 - 2/4
    assert got[1][1] == 0.5
    assert got[2] == (pytest.approx(0.2), 0.0)  # all-unique: top 1/5, no dups
    assert got[3] == (0.0, 0.0)


def test_incremental_dedup_planted(spark):
    """Cross-batch dup drops against history, within-batch dup drops
    against the smaller new id, short and unique docs stay kept."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),                       # history
        (3, "completely different words here nothing shared at all ok"),
        (10, base),                      # new: dup of history doc 0
        (11, "unique snowflake text with many fresh tokens in a row"),
        (13, "short"),                   # < 3 tokens: no signature
        (16, "repeated batch text lorem ipsum dolor sit amet consectetur"),
        (19, "repeated batch text lorem ipsum dolor sit amet consectetur"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    old = df.filter(F.col("doc_id") < 10)
    new = df.filter(F.col("doc_id") >= 10)
    old_sigs = dedup.minhash_signatures(old, "doc_id", k=8)
    out = {
        r["doc_id"]: (r["kept"], r["dup_of"])
        for r in dedup.incremental_dedup(new, old_sigs, "doc_id").collect()
    }
    assert out[10] == (False, 0)         # collides with history
    assert out[11] == (True, None)
    assert out[13] == (True, None)       # signature-less → kept
    assert out[16] == (True, None)       # min id in its bucket
    assert out[19] == (False, 16)        # within-batch, min-id wins


def test_incremental_dedup_old_precedence_and_hot_bucket(spark):
    """A new doc colliding with BOTH history and a smaller new id
    reports the old id; a boilerplate bucket of 500 identical new docs
    yields one kept representative with everyone else pointing at it
    (aggregate-then-join: no pair expansion to blow up)."""
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame([(5, boiler)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(100 + i, boiler) for i in range(500)], ["doc_id", "text"]
    )
    old_sigs = dedup.minhash_signatures(old, "doc_id", k=8)
    rows = dedup.incremental_dedup(new, old_sigs, "doc_id").collect()
    assert len(rows) == 500
    assert all(not r["kept"] and r["dup_of"] == 5 for r in rows)


def test_incremental_dedup_matches_naive_policy(spark):
    """Engine output equals a pure-Python evaluation of the drop policy
    over naively computed band buckets (seeded random corpus with
    planted dups across and within batches)."""
    import hashlib
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    texts = {}
    for i in range(60):
        texts[i] = " ".join(rng.choice(vocab) for _ in range(12))
    for i in (61, 63):                   # cross-batch dups of history docs
        texts[i] = texts[i - 60]
    for i in range(68, 80):
        texts[i] = " ".join(rng.choice(vocab) for _ in range(12))
    texts[65] = texts[74]                # within-batch dups (65 < 74 wins)
    texts[67] = texts[75]
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    old_ids = {i for i in texts if i < 60}

    def bands_of(t):
        toks = t.split(" ")
        gs = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        if not gs:
            return []
        sig = [
            min(hashlib.md5(f"{h}:{g}".encode()).hexdigest() for g in gs)
            for h in range(8)
        ]
        return [(b, sig[2 * b] + "|" + sig[2 * b + 1]) for b in range(4)]

    bucket_old, bucket_newmin = {}, {}
    for i, t in texts.items():
        for bk in bands_of(t):
            if i in old_ids:
                bucket_old[bk] = min(bucket_old.get(bk, i), i)
            else:
                bucket_newmin[bk] = min(bucket_newmin.get(bk, i), i)
    expect = {}
    for i, t in texts.items():
        if i in old_ids:
            continue
        olds = [bucket_old[bk] for bk in bands_of(t) if bk in bucket_old]
        news = [
            bucket_newmin[bk]
            for bk in bands_of(t)
            if bucket_newmin.get(bk, i) < i
        ]
        dup = min(olds) if olds else (min(news) if news else None)
        expect[i] = (dup is None, dup)

    old_sigs = dedup.minhash_signatures(
        df.filter(F.col("doc_id") < 60), "doc_id", k=8
    )
    got = {
        r["doc_id"]: (r["kept"], r["dup_of"])
        for r in dedup.incremental_dedup(
            df.filter(F.col("doc_id") >= 60), old_sigs, "doc_id"
        ).collect()
    }
    assert got == expect


def test_bucket_percentiles_exact_and_approx(spark, docs):
    """Exact per-bucket percentiles follow the (n-1)*p linear
    interpolation definition (checked against numpy on one bucket);
    approx_percentile (the bounded-memory 100 TB path) lands within
    rank tolerance of exact on the same buckets."""
    import numpy as np

    from itemsjs_spark.ops.stats import bucket_percentiles

    exact = {
        r["lang"]: r
        for r in bucket_percentiles(
            docs, ["lang"], "n_chars", ps=(0.5, 0.9)
        ).collect()
    }
    one = sorted(
        r["n_chars"] for r in docs.filter(F.col("lang") == "en").collect()
    )
    assert exact["en"]["n"] == len(one)
    assert exact["en"]["p50"] == pytest.approx(
        round(float(np.percentile(one, 50)), 6), abs=1e-6
    )
    assert exact["en"]["p90"] == pytest.approx(
        round(float(np.percentile(one, 90)), 6), abs=1e-6
    )
    approx = {
        r["lang"]: r
        for r in bucket_percentiles(
            docs, ["lang"], "n_chars", ps=(0.5, 0.9), exact=False
        ).collect()
    }
    for lang, e in exact.items():
        vals = sorted(
            r["n_chars"] for r in docs.filter(F.col("lang") == lang).collect()
        )
        for col in ("p50", "p90"):
            # rank-error bound: the sketch's answer must sit within a
            # few ranks of the exact order statistic
            lo = max(0, int(np.searchsorted(vals, approx[lang][col])) - 3)
            hi = min(len(vals) - 1, lo + 6)
            assert vals[lo] <= approx[lang][col] <= vals[hi] or (
                abs(approx[lang][col] - e[col]) <= 1.0
            )


def test_mmr_rerank_diversifies_across_clusters(spark):
    """Planted geometry: near-duplicate vectors crowd plain top-k; MMR's
    second pick must jump to the other cluster. Rank 1 is always the
    plain cosine argmax, and scores equal the exact rounded cosines."""
    rows = [
        (0, [1.0, 0.0, 0.0]),            # query
        (10, [0.99, 0.14, 0.0]),         # cluster A (very close to q)
        (11, [0.99, 0.141, 0.0]),        # near-dup of 10
        (12, [0.99, 0.142, 0.0]),        # near-dup of 10
        (20, [0.8, -0.6, 0.0]),          # cluster B (farther, diverse)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 0)
    got = {
        r["rank"]: r["neighbor_id"]
        for r in embeddings.mmr_rerank(
            df, q, k=3, fetch=4, lam=0.5, mu=0.5
        ).collect()
    }
    top = {
        r["neighbor_id"]
        for r in embeddings.cosine_topk(df, q, k=2).collect()
    }
    assert top == {10, 11}              # plain top-2 stays in cluster A
    assert got[1] == 10                 # rank 1 = cosine argmax
    assert got[2] == 20                 # MMR jumps to cluster B
    assert got[3] in (11, 12)


def test_kmeans_planted_geometry_and_determinism(spark):
    """Three well-separated planted blobs: k-means recovers them exactly
    from one-per-blob init, centroids converge to the rounded blob
    means, and the run is deterministic."""
    import random

    rng = random.Random(11)
    blobs = {0: [10.0, 0.0], 1: [0.0, 10.0], 2: [-10.0, -10.0]}
    rows = []
    for i in range(90):
        b = i % 3
        cx, cy = blobs[b]
        rows.append(
            (i, [cx + rng.uniform(-1, 1), cy + rng.uniform(-1, 1)], b)
        )
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    cents, assigned = embeddings.kmeans_fit(
        df, k=3, iters=3, init_ids=(0, 1, 2)
    )
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    # init ids 0/1/2 seed blobs 0/1/2 in order → cluster == label
    for i, _, b in rows:
        assert got[i] == b
    assert sorted(cl for cl, _ in cents) == [0, 1, 2]
    for cl, v in cents:
        cx, cy = blobs[cl]
        assert abs(v[0] - cx) < 1.0 and abs(v[1] - cy) < 1.0
    cents2, assigned2 = embeddings.kmeans_fit(
        df, k=3, iters=3, init_ids=(0, 1, 2)
    )
    assert cents2 == cents
    assert {r["vec_id"]: r["cluster"] for r in assigned2.collect()} == got


def test_semdedup_planted_duplicates(spark):
    """SemDeDup: two planted blobs; within each blob near-identical
    vectors dedup to the smallest id, cross-blob rows never pair, and
    the cluster-size cap disables pair generation when it binds."""
    rows = [
        (0, [10.0, 0.0]),
        (1, [10.0, 0.01]),      # ~dup of 0 (cos ≈ 1)
        (2, [10.0, -0.02]),     # ~dup of 0 too
        (3, [7.0, 7.0]),        # same blob A region, lower cos
        (10, [0.0, 10.0]),
        (11, [0.01, 10.0]),     # ~dup of 10
        (12, [-6.0, 8.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents, _ = embeddings.kmeans_fit(df, k=2, iters=3, init_ids=(0, 10))
    got = {
        r["id"]: (r["cluster"], r["keep"])
        for r in embeddings.semdedup(df, cents, threshold=0.999).collect()
    }
    assert set(got) == {0, 1, 2, 3, 10, 11, 12}
    assert [got[i][1] for i in (0, 1, 2)] == [True, False, False]
    assert got[3][1] and got[10][1] and got[12][1]
    assert not got[11][1]
    # same cluster assignment on both blobs
    assert got[0][0] == got[1][0] == got[2][0] == got[3][0]
    assert got[10][0] == got[11][0] == got[12][0] != got[0][0]
    # cap below any cluster size → nothing pairs, everything keeps
    capped = embeddings.semdedup(
        df, cents, threshold=0.999, max_cluster_size=2
    ).collect()
    assert all(r["keep"] for r in capped)


def test_ivf_kmeans_topk_recall_and_exact_scores(spark, emb):
    """Trained-centroid IVF: returned cosines equal the exact values for
    the same pairs, and probing 2 of 4 cells keeps reasonable recall on
    the real embedding set."""
    cents, _ = embeddings.kmeans_fit(emb, k=4, iters=3, init_ids=(0, 1, 2, 3))
    queries = emb.filter(F.col("vec_id") < 8)
    exact = embeddings.cosine_topk(emb, queries, k=10).collect()
    approx = embeddings.ivf_kmeans_topk(
        emb, queries, cents, k=10, n_probe=2
    ).collect()
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.3


def test_facet_cardinality_exact_and_approx(spark, docs):
    """Exact distinct counts match a collect-side ground truth; the
    HLL++ path (unbounded-cardinality columns at 100 TB) lands within
    sketch tolerance of exact."""
    from itemsjs_spark.ops.stats import facet_cardinality

    truth = {
        f: (
            docs.select(f).distinct().count(),
            docs.filter(F.col(f).isNotNull()).count(),
        )
        for f in ("source", "lang")
    }
    exact = {
        r["field"]: (r["n_values"], r["n_docs"])
        for r in facet_cardinality(docs, ["source", "lang"]).collect()
    }
    assert exact == truth
    approx = {
        r["field"]: r["n_values"]
        for r in facet_cardinality(
            docs, ["source", "lang"], exact=False, rsd=0.05
        ).collect()
    }
    for f, (n, _) in truth.items():
        assert abs(approx[f] - n) <= max(2, 0.15 * n)


def test_equi_depth_histogram_partitions_evenly(spark):
    """Exact path: 8 buckets partition every non-null row, counts sit
    near N/8 (near-continuous values), ranges are ordered and disjoint;
    the GK-sketch path still partitions all rows into 8 buckets."""
    from itemsjs_spark.ops.stats import equi_depth_histogram

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    n_total = li.filter(F.col("l_extendedprice").isNotNull()).count()
    rows = sorted(
        equi_depth_histogram(li, "l_extendedprice", n_buckets=8).collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in rows] == list(range(8))
    assert sum(r["n"] for r in rows) == n_total
    for r in rows:
        assert abs(r["n"] - n_total / 8) <= 0.05 * n_total
        assert r["lo"] <= r["hi"]
    for lo_next, hi_prev in zip(rows[1:], rows[:-1]):
        assert hi_prev["hi"] <= lo_next["lo"]

    approx = equi_depth_histogram(
        li, "l_extendedprice", n_buckets=8, exact=False
    ).collect()
    assert sum(r["n"] for r in approx) == n_total
    assert len(approx) == 8


def test_bigram_logprob_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["avg_neg_logprob"])
        for r in text.bigram_logprob(df, "doc_id", k=0.5).collect()
    }
    # corpus: bigrams (a,b)x3, (b,a)x1; unigrams a:3 b:3 solo:1 -> V=3
    p_ab = (3 + 0.5) / (3 + 0.5 * 3)  # c2(a,b)=3, c1(a)=3
    p_ba = (1 + 0.5) / (3 + 0.5 * 3)  # c2(b,a)=1, c1(b)=3
    d1 = round((2 * -math.log(p_ab) + -math.log(p_ba)) / 3, 6)
    assert out[1] == (3, d1)
    assert out[2] == (1, round(-math.log(p_ab), 6))
    # single-token doc: no bigrams, NULL score
    assert out[3] == (0, None)


def test_readability_hand_computed(spark):
    from itemsjs_spark.ops import text as text_ops

    df = spark.createDataFrame(
        [
            # 5 words, 2 sentences, syllable groups: he-llo->2? counted as
            # vowel GROUPS: hello(e,o)=2 world(o)=1 it(i)=1 is(i)=1 fun(u)=1
            (1, "Hello world. It is fun!"),
            (2, "???"),  # junk: 0 words/0 sentences clamp to 1
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in text_ops.readability(df).collect()}
    r1 = got[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (5, 2, 6)
    assert r1["flesch"] == round(206.835 - 1.015 * (5 / 2) - 84.6 * (6 / 5), 6)
    r2 = got[2]
    # "???" has no [.!?]+? it DOES match [.!?]+ (one run) but no words
    assert (r2["n_words"], r2["n_sentences"], r2["n_syllables"]) == (1, 1, 0)
    assert r2["flesch"] == round(206.835 - 1.015 * 1.0 - 0.0, 6)


def test_bucket_anomalies_planted_spike(spark):
    import datetime as dt

    from itemsjs_spark.ops.stats import bucket_anomalies

    def t(e):
        return dt.datetime.fromtimestamp(e, dt.timezone.utc).replace(tzinfo=None)

    rows = []
    # 4 quiet hourly buckets with 1 event, 1 spike bucket with 21:
    # mean 5, var (4 + 256)/5... = (4*1 + 441)/5 - 25 = 64, std 8,
    # spike z = (21-5)/8 = 2.0, quiet z = -0.5
    for h in range(4):
        rows.append((t(3600 * h),))
    rows += [(t(3600 * 4 + i),) for i in range(21)]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = bucket_anomalies(df, "ts", 3600, z=2.0).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["bucket"], r["n"], r["zscore"]) == (3600 * 4, 21, 2.0)
    # raising the threshold past the spike flags nothing
    assert bucket_anomalies(df, "ts", 3600, z=2.1).count() == 0


def test_quality_quantile_filter_per_domain(spark):
    from itemsjs_spark.ops.text import quality_quantile_filter

    # domain A: richer texts; domain B: uniformly poor — an absolute
    # cutoff would drop B entirely, the per-domain gate keeps B's best
    rows = [
        (0, "A", "alpha beta gamma delta epsilon zeta"),
        (1, "A", "one two three four"),
        (2, "A", "x x x x x x x x"),
        (3, "A", "mixed bag of a few words words"),
        (4, "B", "y y"),
        (5, "B", "z z z"),
        (6, "B", "p q"),
        (7, "B", "r r r r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = quality_quantile_filter(df, q=0.5).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    # both domains survive, each losing its own worst tail
    assert by_src.get("B"), "per-domain gate must keep some of domain B"
    assert by_src.get("A")
    assert 2 not in by_src["A"]          # A's all-repeat doc is its tail
    # every kept row satisfies its own threshold
    for r in kept:
        assert r["quality"] >= r["q_threshold"]


def test_quantize_int8_range_and_error_bound(spark, emb):
    out = embeddings.quantize_int8(emb).collect()
    assert len(out) == emb.count()
    dim = len(out[0]["qvec"])
    # per-dim scale bound: worst dequant error <= (mx-mn)/255/2 + rounding
    stats = (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"))
        .groupBy("pos")
        .agg((F.max("v") - F.min("v")).alias("scale"))
        .collect()
    )
    bound = max(r["scale"] for r in stats) / 255.0 / 2.0 + 1e-6
    for r in out:
        assert len(r["qvec"]) == dim
        assert all(-128 <= q <= 127 for q in r["qvec"])
        assert r["max_abs_err"] <= bound
    # the per-dim extremes hit the endpoints of the int8 range
    mins = [min(r["qvec"][i] for r in out) for i in range(dim)]
    maxs = [max(r["qvec"][i] for r in out) for i in range(dim)]
    assert all(m == -128 for m in mins)
    assert all(m == 127 for m in maxs)


def test_quantize_int8_constant_dim_is_exact(spark):
    df = spark.createDataFrame(
        [(1, [3.5, 0.0]), (2, [3.5, 1.0])], "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: r for r in embeddings.quantize_int8(df).collect()}
    # constant dim quantizes to code 0-128 with zero error
    assert out[1]["qvec"][0] == -128 and out[2]["qvec"][0] == -128
    assert out[1]["qvec"] == [-128, -128] and out[2]["qvec"] == [-128, 127]
    assert out[1]["max_abs_err"] == 0.0 and out[2]["max_abs_err"] == 0.0


def test_pca_power_recovers_planted_direction(spark):
    # deterministic anisotropic corpus: dominant direction u with small
    # deterministic off-axis jitter -> the power method must align pc0
    # with u and order the components by captured variance
    import math

    d = 8
    u = [1.0 / math.sqrt(d)] * d
    rows = []
    for t in range(200):
        a = math.sin(t * 0.7) * 5.0  # dominant coordinate
        vec = [
            a * u[i] + 0.1 * math.cos(t * 1.3 + i) for i in range(d)
        ]
        rows.append((t, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mu, comps = embeddings.pca_power_fit(df, n_components=2, iters=15)
    (l1, x1), (l2, x2) = comps
    cos = abs(sum(a * b for a, b in zip(x1, u)))
    assert cos > 0.95, cos
    assert l1 > l2 > 0
    out = embeddings.pca_project(df, mu, [x1, x2]).collect()
    n = len(out)
    v0 = sum(r["pc0"] ** 2 for r in out) / n - (sum(r["pc0"] for r in out) / n) ** 2
    v1 = sum(r["pc1"] ** 2 for r in out) / n - (sum(r["pc1"] for r in out) / n) ** 2
    assert v0 > v1
    # captured variance along x1 tracks the reported eigenvalue
    assert abs(v0 - l1) < 0.05 * l1


def test_pca_components_unit_norm_and_deterministic(spark, emb):
    mu, comps = embeddings.pca_power_fit(emb, n_components=2, iters=4)
    for lam, x in comps:
        nrm = sum(v * v for v in x) ** 0.5
        assert abs(nrm - 1.0) < 1e-3
    mu2, comps2 = embeddings.pca_power_fit(emb, n_components=2, iters=4)
    assert mu == mu2 and comps == comps2


def test_extract_code_blocks_order_lang_and_unclosed(spark):
    doc = (
        "intro\n```python\na = 1\nb = 2\n```\nmiddle\n```\nplain\n```\n"
        "trailing ```bash\nunclosed"
    )
    df = spark.createDataFrame([(1, doc), (2, "no fences here")],
                               "doc_id long, text string")
    out = text.extract_code_blocks(df).collect()
    assert [r["doc_id"] for r in out] == [1, 1]
    b0, b1 = sorted(out, key=lambda r: r["block_idx"])
    assert (b0["lang"], b0["code"], b0["n_lines"]) == ("python", "a = 1\nb = 2\n", 3)
    assert (b1["lang"], b1["code"], b1["n_lines"]) == ("", "plain\n", 2)


def test_extract_code_blocks_nongreedy_stops_at_first_fence(spark):
    doc = "```js\nx\n```\ngap\n```js\ny\n```"
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    out = sorted(text.extract_code_blocks(df).collect(),
                 key=lambda r: r["block_idx"])
    assert len(out) == 2
    assert out[0]["code"] == "x\n" and out[1]["code"] == "y\n"


def test_dedup_paragraphs_keeps_first_in_order(spark):
    doc = "alpha\n\nbeta\n\nalpha\n\ngamma\n\nbeta"
    df = spark.createDataFrame([(7, doc)], "doc_id long, text string")
    r = text.dedup_paragraphs(df).collect()[0]
    assert (r["n_paras"], r["n_kept"]) == (5, 3)
    assert r["clean_text"] == "alpha\n\nbeta\n\ngamma"


def test_cms_estimate_upper_bounds_exact_counts(spark, docs):
    from itemsjs_spark.ops import sketches

    tok = docs.select(F.explode(F.split("text", " ")).alias("term")).filter(
        F.col("term") != ""
    )
    sk = sketches.cms_build(tok, depth=4, width=512)
    assert sk.count() <= 4 * 512
    exact = tok.groupBy("term").agg(F.count("*").alias("exact"))
    est = sketches.cms_estimate(exact.select("term"), sk, depth=4, width=512)
    joined = exact.join(est, "term").collect()
    assert len(joined) == exact.count()
    n_total = tok.count()
    for r in joined:
        assert r["est_count"] >= r["exact"], r
        # CMS overestimate bound (loose, deterministic check: the min
        # over rows can't exceed exact + the total mass in one bucket)
        assert r["est_count"] <= r["exact"] + n_total


def test_strip_common_prefix_per_group(spark):
    df = spark.createDataFrame(
        [
            (1, "s1", "HDR :: alpha body"),
            (2, "s1", "HDR :: beta body"),
            (3, "s1", "HDR :: gamma"),
            (4, "s2", "other header | xyz"),
            (5, "s2", "other header | abc"),
            (6, "s3", "lonely full text"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r for r in text.strip_common_prefix(df).collect()}
    assert out[1]["prefix_len"] == len("HDR :: ")
    assert out[1]["stripped_text"] == "alpha body"
    assert out[3]["stripped_text"] == "gamma"
    assert out[4]["prefix_len"] == len("other header | ")
    assert out[5]["stripped_text"] == "abc"
    # single-doc groups strip nothing
    assert out[6]["prefix_len"] == 0
    assert out[6]["stripped_text"] == "lonely full text"


def test_hll_estimate_close_and_duplicate_insensitive(spark):
    from itemsjs_spark.ops import sketches

    vals = spark.range(0, 2000).select(
        F.concat(F.lit("v"), F.col("id")).alias("value")
    )
    est = sketches.hll_cardinality(vals).collect()[0]["est_distinct"]
    assert abs(est - 2000) / 2000 < 0.15
    # duplicates never move a max-rank register
    dup = vals.union(vals).union(vals)
    est_dup = sketches.hll_cardinality(dup).collect()[0]["est_distinct"]
    assert est_dup == est


def test_hll_grouped_registers_are_independent(spark):
    from itemsjs_spark.ops import sketches

    df = spark.range(0, 3000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("x"), F.col("id")).alias("value"),
    )
    rows = {
        r["g"]: r["est_distinct"]
        for r in sketches.hll_cardinality(df, group_cols=["g"]).collect()
    }
    assert set(rows) == {"0", "1", "2"}
    for g, est in rows.items():
        assert abs(est - 1000) / 1000 < 0.2, (g, est)


def test_hll_matches_sql_restatement(spark):
    import duckdb

    from itemsjs_spark.ops import sketches

    pdf = (
        spark.range(0, 500)
        .select(F.concat(F.lit("t"), (F.col("id") % 311)).alias("value"))
        .toPandas()
    )
    got = sketches.hll_cardinality(
        spark.createDataFrame(pdf)
    ).collect()[0]["est_distinct"]
    x = "(strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)"
    for p in range(4, 11):
        x = f"({x} * 16 + (strpos('0123456789abcdef', substr(hx, {p}, 1)) - 1))"
    rho = sketches.hll_rho_case_sql(x)
    con = duckdb.connect()
    con.register("vals", pdf)
    sql = f"""
WITH h AS (SELECT md5('hll:' || value) AS hx FROM vals),
regs AS (
  SELECT (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS b,
         max({rho}) AS mj
  FROM h GROUP BY 1
)
SELECT round({sketches.hll_alpha_num()!r} /
  (sum(1::BIGINT << (33 - mj)) + (256 - count(*)) * (1::BIGINT << 33))::DOUBLE,
  6) AS est
FROM regs
"""
    want = con.sql(sql).fetchone()[0]
    assert got == want


def test_dedup_spans_drops_non_canonical_cross_doc_repeats(spark):
    boiler = "the quick brown fox jumps over lazy dog"
    df = spark.createDataFrame(
        [
            (1, "alpha " + boiler),
            (2, "beta " + boiler + " tail"),
            (3, "unique words only here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.dedup_spans(df, span=5).collect()}
    # first occurrence (doc 1) is canonical and survives whole
    assert out[1]["n_dropped"] == 0
    assert out[1]["clean_text"] == "alpha " + boiler
    # doc 2's copy of the whole region chains away via overlapping grams
    assert out[2]["clean_text"] == "beta tail"
    assert (out[2]["n_tokens"], out[2]["n_dropped"]) == (10, 8)
    assert out[3]["n_dropped"] == 0


def test_dedup_spans_within_doc_repeat(spark):
    df = spark.createDataFrame(
        [(7, "a b c d e f a b c d e f")], "doc_id long, text string"
    )
    r = dedup.dedup_spans(df, span=5).collect()[0]
    assert (r["n_tokens"], r["n_dropped"]) == (12, 6)
    assert r["clean_text"] == "a b c d e f"


def test_dedup_spans_short_docs_untouched_and_all_rows_returned(spark):
    df = spark.createDataFrame(
        [(1, "tiny doc"), (2, ""), (3, "one two three four")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.dedup_spans(df, span=5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["clean_text"] == "tiny doc"
    assert (out[2]["n_tokens"], out[2]["clean_text"]) == (0, "")
    assert out[3]["n_dropped"] == 0


def test_pq_planted_blocks_encode_and_adc(spark):
    """Planted 4-dim corpus with two clean clusters per 2-dim subspace:
    pq_fit recovers per-subspace codebooks, pq_encode assigns every row
    the code of its planted half, and ADC ranks a same-pattern neighbor
    above a different-pattern one. Also pins determinism (re-fit gives
    identical codebooks) and the m-divides-dim guard."""
    import pytest as _pytest
    from itemsjs_spark.ops.embeddings import pq_adc_topk, pq_encode, pq_fit

    # subspace 0 pattern A=[10,0] B=[0,10]; subspace 1 pattern A=[5,5] B=[-5,-5]
    rows = [
        (0, [10.0, 0.0, 5.0, 5.0]),     # AA  (query)
        (1, [10.2, 0.1, 5.1, 4.9]),     # AA  (near twin of 0)
        (2, [0.0, 10.0, 5.0, 5.0]),     # BA
        (3, [10.0, 0.0, -5.0, -5.0]),   # AB
        (4, [0.1, 9.9, -5.1, -4.9]),    # BB  (far from 0)
        (5, [9.8, -0.1, 4.8, 5.2]),     # AA
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books, sub = pq_fit(df, m=2, k=2, iters=2, init_ids=(0, 4))
    assert sub == 2 and len(books) == 2
    books2, _ = pq_fit(df, m=2, k=2, iters=2, init_ids=(0, 4))
    assert books == books2
    codes = {
        r["vec_id"]: (r["code0"], r["code1"])
        for r in pq_encode(df, books, sub).collect()
    }
    # init ids 0 (AA) and 4 (BB) seed code 0 = pattern A, code 1 = B
    assert codes[0] == (0, 0) and codes[1] == (0, 0) and codes[5] == (0, 0)
    assert codes[2] == (1, 0) and codes[3] == (0, 1) and codes[4] == (1, 1)
    top = pq_adc_topk(
        df, df.filter("vec_id = 0"), books, sub, k=5
    ).collect()
    order = [r["neighbor_id"] for r in sorted(top, key=lambda r: r["adc"])]
    # same-code rows (1, 5) estimate nearer than cross-pattern rows
    assert set(order[:2]) == {1, 5}
    assert order[-1] == 4
    with _pytest.raises(ValueError):
        pq_fit(df.limit(2), m=3)


def test_random_projection_exact_grid_and_norm_preservation(spark):
    """Every output value sits exactly on the 1e-6 grid (the integer
    path leaves nothing to float rounding), the run is deterministic,
    the sign matrix depends only on (seed, i, j), and across vectors
    the projected squared norm tracks the input squared norm (the JL
    expectation) within a loose factor."""
    import random

    from itemsjs_spark.ops.embeddings import random_projection, rp_signs

    assert rp_signs(4, 2, seed=0) == rp_signs(4, 2, seed=0)
    assert rp_signs(4, 2, seed=0) != rp_signs(4, 2, seed=1)

    rng = random.Random(3)
    rows = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(64)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = random_projection(df, out_dim=16).collect()
    assert len(out) == 40 * 16
    for r in out:
        micro = r["val"] * 1e6
        assert abs(micro - round(micro)) < 1e-6
    in_sq = {i: sum(x * x for x in v) for i, v in rows}
    proj_sq = {}
    for r in out:
        proj_sq[r["vec_id"]] = proj_sq.get(r["vec_id"], 0.0) + r["val"] ** 2
    ratio = sum(proj_sq[i] for i in in_sq) / sum(in_sq.values())
    assert 0.5 < ratio < 2.0
    out2 = random_projection(df, out_dim=16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_ivfpq_matches_adc_within_probed_cells(spark, emb):
    """IVF+PQ results are exactly the plain-ADC ranking restricted to
    each query's probed cells: recompute the expected set from the
    op's own cell assignment + ADC scores and compare."""
    from itemsjs_spark.ops.embeddings import (
        ivfpq_topk,
        kmeans_fit,
        pq_adc_topk,
        pq_fit,
    )

    cents, assigned = kmeans_fit(emb, k=4, iters=2, init_ids=(0, 1, 2, 3))
    books, sub = pq_fit(emb, m=4, k=4, iters=2, init_ids=(0, 1, 2, 3))
    q = emb.filter("vec_id < 3")
    got = ivfpq_topk(emb, q, cents, books, sub, k=5, n_probe=4).collect()
    # n_probe == k_coarse → every cell probed → identical to plain ADC
    want = pq_adc_topk(emb, q, books, sub, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # with 1 probe, results are a subset of the full ADC candidate pool
    got1 = ivfpq_topk(emb, q, cents, books, sub, k=5, n_probe=1).collect()
    cell = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    full = pq_adc_topk(emb, q, books, sub, k=10**6).collect()
    pool = {(r["query_id"], r["neighbor_id"]): r["adc"] for r in full}
    for r in got1:
        assert (r["query_id"], r["neighbor_id"]) in pool
        assert pool[(r["query_id"], r["neighbor_id"])] == r["adc"]


def test_binary_quantize_codes_match_thresholds(spark, emb):
    """Every set bit corresponds to a value strictly above its
    dimension's midpoint threshold, and codes pack 32 bits per word."""
    st = embeddings.binary_thresholds(emb).collect()[0]["__st"]
    thr = [s["thr"] for s in st]
    assert len(thr) == 64
    codes = {
        r["vec_id"]: (r["w0"], r["w1"])
        for r in embeddings.binary_quantize(emb).collect()
    }
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    for vid in list(codes)[:25]:
        w0, w1 = codes[vid]
        for d in range(64):
            word, j = (w0, d) if d < 32 else (w1, d - 32)
            bit = (word >> j) & 1
            assert bit == (1 if float(vecs[vid][d]) > thr[d] else 0)
        assert 0 <= w0 < (1 << 32) and 0 <= w1 < (1 << 32)


def test_hamming_topk_matches_bruteforce_python(spark, emb):
    """The two-stage (Hamming shortlist -> exact rerank) result equals a
    driver-side brute-force replay of the same rule."""
    k, shortlist, nq = 7, 40, 3
    qs = emb.filter(F.col("vec_id") < nq)
    got = embeddings.hamming_topk(emb, qs, k=k, shortlist=shortlist)
    got_rows = {
        (r["query_id"], r["neighbor_id"]): (r["hamming"], r["cosine"])
        for r in got.collect()
    }
    codes = {
        r["vec_id"]: (r["w0"], r["w1"])
        for r in embeddings.binary_quantize(emb).collect()
    }
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}

    def cos(a, b):
        import math

        num = sum(x * y for x, y in zip(a, b))
        return round(
            num
            / (
                math.sqrt(sum(x * x for x in a))
                * math.sqrt(sum(y * y for y in b))
            ),
            6,
        )

    want = {}
    for q in range(nq):
        qw0, qw1 = codes[q]
        hams = sorted(
            (
                (
                    bin((codes[c][0] ^ qw0)).count("1")
                    + bin((codes[c][1] ^ qw1)).count("1"),
                    c,
                )
                for c in codes
                if c != q
            )
        )[:shortlist]
        rer = sorted(
            ((-cos(vecs[q], vecs[c]), c, h) for h, c in hams),
        )[:k]
        for negc, c, h in rer:
            want[(q, c)] = (h, -negc)
    assert got_rows == want
    assert got.count() == nq * k
