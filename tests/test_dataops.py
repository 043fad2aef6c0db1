"""Behavioral tests for the LLM-data operators: synthetic near-dups for
MinHash/SimHash (the fixture corpus has none), ANN recall vs brute force,
multimodal batch plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incubator_beam_spark.dataops import dedup, similarity
from incubator_beam_spark.dataops.multimodal import decode_images, with_binary_meta

from .conftest import SF_DIR, jobs_launched


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest where tall trees grow near the river"
    )
    near = base.replace("lazy", "sleepy")  # 1-word edit → high jaccard
    other = "completely different content about spark query engines and shuffles at scale"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], ["doc_id", "text"]
    )


def test_ensure_parallelism_leaves_non_file_sources_unchanged(spark, dup_docs, tmp_path):
    """In-memory and streaming frames, and files that can no longer be
    sized, come back as they are; a one-file parquet scan is spread over
    the session's slots."""
    import os

    assert dedup.ensure_parallelism(dup_docs) is dup_docs
    stream = spark.readStream.schema(dup_docs.schema).parquet(str(tmp_path))
    assert dedup.ensure_parallelism(stream) is stream

    path = str(tmp_path / "docs")
    dup_docs.coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    spread = dedup.ensure_parallelism(scan)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    assert dedup.ensure_parallelism(scan) is scan


def test_exact_dedup_groups_identical(spark, dup_docs):
    out = {r.keep_id: r.n_copies for r in dedup.exact_dedup(dup_docs).collect()}
    assert out[1] == 2  # docs 1+2 identical
    assert out[3] == 1 and out[4] == 1


def test_minhash_identical_docs_identical_sigs(spark, dup_docs):
    sigs = {
        r.doc_id: tuple(r.sig)
        for r in dup_docs.select(
            "doc_id", dedup.minhash_signature(dedup.shingles(F.col("text"))).alias("sig")
        ).collect()
    }
    assert sigs[1] == sigs[2]
    # near-dup shares most signature positions; unrelated doc shares none
    shared_near = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    shared_far = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert shared_near >= 4
    assert shared_far == 0


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(dup_docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.7
    assert all(4 not in p for p in pairs)


def test_simhash_near_dups_close_in_hamming(spark, dup_docs):
    out = {
        r.doc_id: r.sh
        for r in dup_docs.select(
            "doc_id", dedup.simhash64(F.col("text"), bits=32).alias("sh")
        ).collect()
    }
    assert out[1] == out[2]
    ham_near = bin(out[1] ^ out[3]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham_near < ham_far


def test_lsh_ann_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.lsh_topk(queries, emb, dim=64, k=5, n_planes=2)
    exact_set = {(r.query_id, r.match_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.match_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 2 planes → 4 buckets → ~25% of corpus scanned; recall well above random
    assert recall >= 0.4, f"LSH recall too low: {recall}"


def test_cosine_self_similarity(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(10)
    v = similarity.as_double(F.col("embedding"))
    out = emb.select(F.round(similarity.cosine(v, v), 6).alias("c")).collect()
    assert all(abs(r.c - 1.0) < 1e-6 for r in out)


def test_multimodal_meta_and_decode(spark, dup_docs):
    with_payload = dup_docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    meta = with_binary_meta(with_payload).select("doc_id", "media_meta.*").collect()
    by_id = {r.doc_id: r for r in meta}
    assert by_id[1].n_bytes == by_id[2].n_bytes > 0
    assert by_id[1].content_hash == by_id[2].content_hash

    feats = decode_images(with_payload).collect()
    assert len(feats) == 4
    assert all(r.width > 0 and r.height > 0 and r.n_channels == 3 for r in feats)
    # deterministic stub: identical payloads → identical features
    fmap = {r.doc_id: (r.width, r.height) for r in feats}
    assert fmap[1] == fmap[2]


def test_hll_sketch_estimate_accuracy(spark, duck):
    """HLL++ Init/Merge/Extract (zetasketch analog): union of per-group
    sketches estimates the global distinct count within 5%."""
    from incubator_beam_spark import registry

    q = registry.load_all()["agg_hll_sketch"]
    est = q.fn(spark, SF_DIR).collect()[0][0]
    exact = duck.execute("SELECT count(DISTINCT l_partkey) FROM lineitem").fetchone()[0]
    assert abs(est - exact) / exact < 0.05


def test_count_min_sketch_is_mergeable_binary(spark):
    from incubator_beam_spark import registry

    q = registry.load_all()["agg_count_min_sketch"]
    rows = q.fn(spark, SF_DIR).collect()
    assert len(rows) == 3 and all(isinstance(r.cms, (bytes, bytearray)) for r in rows)


# -- round 2: scale hardening ------------------------------------------------


def test_minhash_lsh_hot_band_cap_drops_degenerate_bucket(spark):
    """One near-universal band key (here: 300 identical boilerplate docs)
    must not go quadratic — the capped bucket is dropped wholesale."""
    boiler = [(i, "lorem ipsum dolor sit amet the same boilerplate text") for i in range(300)]
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest where tall trees grow near the river"
    )
    near = base.replace("lazy", "sleepy")
    docs = spark.createDataFrame(
        boiler + [(1000, base), (1001, near)], ["doc_id", "text"]
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5, max_bucket=100).collect()
    }
    # the real near-dup pair survives (its buckets are tiny)...
    assert (1000, 1001) in pairs
    # ...and no pair from the 300-doc degenerate bucket was emitted
    # (300 docs -> 44850 quadratic candidates without the cap)
    assert all(a >= 1000 for a, _ in pairs)


def test_minhash_lsh_cap_disabled_keeps_all_pairs(spark, dup_docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(dup_docs, threshold=0.5, max_bucket=None).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs


def test_auto_planes_scales_with_corpus():
    assert similarity.auto_planes(100) == 4          # floor
    assert similarity.auto_planes(256) == 4
    assert similarity.auto_planes(1_000_000) == 12   # ceil(log2(1e6/256))
    assert similarity.auto_planes(10**12) == 24      # cap
    # expected bucket occupancy stays ~target as N grows 1000x
    for n in (10**6, 10**9):
        planes = similarity.auto_planes(n)
        assert n / 2**planes <= 512


def test_neardup_pairs_auto_plane_count(spark):
    import random

    random.seed(7)
    base = [random.uniform(-1, 1) for _ in range(16)]
    jig = [v + 0.01 for v in base]
    far = [random.uniform(-1, 1) for _ in range(16)]
    emb = spark.createDataFrame(
        [(1, base), (2, jig), (3, far)], ["vec_id", "embedding"]
    )
    pairs = {
        (r.id_a, r.id_b): r.cos
        for r in similarity.neardup_pairs(emb, dim=16, threshold=0.95).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99


def test_dup_ngram_fraction_detects_repetition(spark):
    from incubator_beam_spark.dataops import text as tx

    rows = [
        (1, "one two three four five six seven eight nine ten"),  # no repeats
        (2, "spam ham eggs " * 10),                               # heavy repeats
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.f for r in df.select(
        "doc_id", tx.dup_ngram_fraction(F.col("text")).alias("f")).collect()}
    assert out[1] == 0.0
    assert out[2] > 0.8


def test_pii_redact_and_counts(spark):
    from incubator_beam_spark.dataops import text as tx

    doc = "mail a.user@example.com or call +1 (555) 123-4567 from 10.0.0.1 ok"
    df = spark.createDataFrame([(1, doc)], ["doc_id", "text"])
    counts = tx.pii_counts(F.col("text"))
    row = df.select(
        tx.pii_redact(F.col("text")).alias("red"),
        counts["EMAIL"].alias("e"), counts["PHONE"].alias("p"), counts["IP"].alias("i"),
    ).collect()[0]
    assert "[EMAIL]" in row.red and "[PHONE]" in row.red and "[IP]" in row.red
    assert "example.com" not in row.red and "555" not in row.red
    assert (row.e, row.p, row.i) == (1, 1, 1)


def test_l2_normalize_unit_norm(spark):
    from incubator_beam_spark.dataops.similarity import as_double, l2_normalize, norm

    df = spark.createDataFrame([(1, [3.0, 4.0]), (2, [0.0, 0.0])], ["id", "v"])
    out = df.select(
        "id", norm(l2_normalize(as_double(F.col("v")))).alias("n")
    ).collect()
    got = {r.id: r.n for r in out}
    assert abs(got[1] - 1.0) < 1e-12
    assert got[2] == 0.0  # zero vector passes through


def test_kmeans_step_partitions_all_vectors(spark):
    import random

    from incubator_beam_spark.dataops.similarity import kmeans_assign_step

    random.seed(3)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kmeans_assign_step(emb, k=4).collect()
    assert sum(r.n for r in out) == 50          # every vector assigned
    assert set(r.cell for r in out) <= {0, 1, 2, 3}


def test_substring_dup_stats_cross_doc_only(spark):
    """A shared 8-token run counts in both docs; within-doc repetition
    alone does not (cross-doc = count(DISTINCT doc) > 1)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    df = spark.createDataFrame(
        [
            (1, shared + " one two three"),
            (2, "x y " + shared),
            (3, "solo words only here nothing repeats at all"),
            (4, "tiny"),  # < 8 tokens -> 0 windows
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.substring_dup_stats(df, window=8).collect()}
    assert out[1].n_windows == 4 and out[2].n_windows == 3
    assert out[1].n_dup_windows >= 1 and out[2].n_dup_windows >= 1
    assert out[3].n_dup_windows == 0
    assert out[4].n_windows == 0 and out[4].n_dup_windows == 0


def test_semdedup_keeps_lowest_id_representative(spark):
    """Two near-identical vectors in one cell -> higher id dropped;
    orthogonal vector survives; centroid cells honored."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),      # different direction
        (3, [0.0, 0.98, 0.1]),     # near-dup of 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = emb.filter(F.col("vec_id").isin(0, 2))
    kept = similarity.semdedup(emb, cents, tau=0.9)
    assert sorted(r.vec_id for r in kept.collect()) == [0, 2]
    # tau above every pairwise cosine keeps everything
    kept_all = similarity.semdedup(emb, cents, tau=1.0)
    assert sorted(r.vec_id for r in kept_all.collect()) == [0, 1, 2, 3]


def test_gopher_rules_flags(spark):
    from incubator_beam_spark.dataops.text import gopher_rules

    good = "the cat and the dog walk to the park " * 12  # >50 words, stopwords
    bullets = "\n".join(f"* item {i}" for i in range(10))
    short = "tiny text"
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, short)], "doc_id long, text string"
    )
    cols = gopher_rules(F.col("text"))
    out = {r.doc_id: r for r in df.select("doc_id", *(v.alias(k) for k, v in cols.items())).collect()}
    assert out[1].keep and out[1].word_count_ok and out[1].stopword_ok
    assert not out[2].bullet_ok and not out[2].keep  # 100% bullet lines
    assert not out[3].word_count_ok and not out[3].keep


def test_decode_image_batch_real_path_with_pillow():
    """When Pillow is installed the kernel decodes real pixels; env-skipped
    otherwise (the stub path is covered by test_multimodal_meta_and_decode)."""
    PILImage = pytest.importorskip("PIL.Image")
    import io

    from incubator_beam_spark.dataops.multimodal import decode_image_batch

    buf = io.BytesIO()
    PILImage.new("RGB", (5, 3)).save(buf, format="PNG")
    assert decode_image_batch(buf.getvalue()) == {
        "width": 5,
        "height": 3,
        "n_channels": 3,
    }


def test_decode_image_batch_stub_fallback_deterministic():
    from incubator_beam_spark.dataops.multimodal import decode_image_batch

    a = decode_image_batch(b"not an image at all")
    assert a == decode_image_batch(b"not an image at all")
    assert a["n_channels"] == 3 and a["width"] > 0 and a["height"] > 0
    empty = decode_image_batch(b"")
    assert empty == {"width": 64, "height": 64, "n_channels": 3}


def test_wav_pcm_sumsq_exact_decode():
    import struct

    from incubator_beam_spark.dataops.multimodal import (
        encode_wav_header,
        wav_pcm_sumsq,
    )

    samples = [0, 1, -1, 32767, -32768, 1000]
    payload = encode_wav_header(len(samples), 16000) + struct.pack(
        f"<{len(samples)}h", *samples
    )
    n, ss = wav_pcm_sumsq(payload)
    assert n == 6 and ss == sum(s * s for s in samples)
    assert wav_pcm_sumsq(b"junk") is None
    # 8-bit wav rejected (decoder only claims 16-bit PCM)
    assert wav_pcm_sumsq(encode_wav_header(4, 8000, bits=8) + b"\x00" * 4) is None


def test_wav_header_codec_roundtrip():
    from incubator_beam_spark.dataops.multimodal import (
        encode_wav_header,
        parse_wav_meta,
    )

    hdr = encode_wav_header(n_samples=16000, sample_rate=16000, n_channels=2, bits=16)
    meta = parse_wav_meta(hdr)
    assert meta == {
        "sample_rate": 16000,
        "n_channels": 2,
        "bits": 16,
        "n_frames": 16000,
        "duration_ms": 1000.0,
    }
    assert parse_wav_meta(b"not a wav") is None
    assert parse_wav_meta(hdr[:20]) is None  # truncated


@pytest.mark.parametrize("local_contract", [True, False])
def test_connected_components_vs_union_find(spark, local_contract):
    """CC labels must equal a driver-side union-find on a graph with
    chains (multi-hop), a star, singletons, and duplicate/reversed
    edges. Without the contraction the 41-node path takes several real
    rounds before the edges form a star forest."""
    import random

    from incubator_beam_spark.dataops.dedup import connected_components

    rng = random.Random(7)
    n = 200
    edge_list = [(i, i + 1) for i in range(0, 40)]            # 41-node path
    edge_list += [(100, t) for t in range(101, 120)]          # star
    edge_list += [(rng.randrange(140, 180), rng.randrange(140, 180)) for _ in range(30)]
    edge_list += [(b, a) for a, b in edge_list[:10]]          # reversed dups

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n)}
    # canonical root = min of component
    comp_min = {}
    for i in range(n):
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    expected = {i: comp_min[find(i)] for i in range(n)}

    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["node"])
    got = {
        r.node: r.component
        for r in connected_components(
            edges, nodes=nodes, local_contract=local_contract
        ).collect()
    }
    assert got == expected


@pytest.mark.parametrize(
    "edges, star",
    [
        ([], True),  # non-empty stars: see the no-round test below
        ([(2, 1), (1, 0)], False),  # 2-hop chain: 1 is a v and a u
        ([(2, 0), (2, 1)], False),  # 2 has two parents
    ],
)
def test_star_forest_check(spark, edges, star):
    e = spark.createDataFrame(edges, "u long, v long")
    assert dedup._is_star_forest(e) is star


def test_connected_components_runs_no_round_on_contracted_stars(spark):
    """Five 100-node paths plus 10 isolated nodes, the
    ``doc_neardup_clusters`` graph: the local contraction already leaves
    each path as a star on its minimum, so building the result launches
    only the pre-loop jobs and one star-forest check, and no
    large-star/small-star round. Writing the result computes the roots
    and the singletons in one pass over the final edges."""
    ids = spark.range(500)
    edges = ids.filter(F.col("id") % 100 != 0).select(
        F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
    )
    nodes = spark.range(510).select(F.col("id").alias("node"))
    _, pre = jobs_launched(
        spark,
        lambda: dedup._is_star_forest(
            dedup._local_contract(dedup._oriented_edges(edges, "src", "dst"))
            .localCheckpoint(eager=False)
        ),
    )
    out, built = jobs_launched(
        spark, lambda: dedup.connected_components(edges, nodes=nodes)
    )
    assert built <= pre, f"{built} build jobs, pre-loop plus one check is {pre}"
    _, written = jobs_launched(
        spark, lambda: out.write.format("noop").mode("overwrite").save()
    )
    assert written <= 3, f"{written} jobs to write the labels"
    got = [(r.node, r.component) for r in out.collect()]
    assert sorted(got) == [
        (i, i - i % 100 if i < 500 else i) for i in range(510)
    ]


def test_neardup_dedup_end_to_end(spark):
    """LSH pairs -> CC -> canonical pick groups synthetic near-dups and
    leaves distinct docs alone."""
    from incubator_beam_spark.dataops.dedup import neardup_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base + " extra"),          # near-dup of 0
        (2, base.replace("dog", "cat")),  # near-dup of 0
        (3, "completely different text about spark catalyst optimizer plans"),
        (4, "another unrelated document mentioning parquet column pruning"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.component, r.is_canonical)
        for r in neardup_dedup(docs, rows_per_band=1).collect()
    }
    assert out[0] == (0, True)
    assert out[1][0] == 0 and not out[1][1]
    assert out[2][0] == 0 and not out[2][1]
    assert out[3] == (3, True)
    assert out[4] == (4, True)


def test_asof_join_matches_pandas_merge_asof(spark):
    import pandas as pd

    from incubator_beam_spark.dataops.temporal import asof_join

    left = pd.DataFrame(
        {
            "k": ["a", "a", "a", "b", "b", "c"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:05", "2024-01-01 00:10", "2024-01-01 00:20",
                 "2024-01-01 00:07", "2024-01-01 00:30", "2024-01-01 00:01"]
            ),
            "lv": [1, 2, 3, 4, 5, 6],
        }
    )
    right = pd.DataFrame(
        {
            "k": ["a", "a", "b", "b"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:04", "2024-01-01 00:10", "2024-01-01 00:08",
                 "2024-01-01 00:25"]
            ),
            "rv": [10, 20, 30, 40],
        }
    )
    expected = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("ts"), on="ts", by="k"
    )
    got = asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right), on="k"
    ).toPandas()
    g = {(r.k, r.lv): r.r_rv for r in got.itertuples()}
    e = {(r.k, r.lv): r.rv for r in expected.itertuples()}
    import math
    for key in e:
        ev_, gv = e[key], g[key]
        assert (isinstance(ev_, float) and math.isnan(ev_) and gv is None or pd.isna(gv)) or ev_ == gv, (key, ev_, gv)


def test_asof_join_forward_and_tolerance(spark):
    import pandas as pd

    from incubator_beam_spark.dataops.temporal import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"],
                      "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00"]),
                      "lv": [1, 2]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a"],
                      "ts": pd.to_datetime(["2024-01-01 00:30"]),
                      "rv": [9]})
    )
    fwd = {r.lv: r.r_rv for r in asof_join(left, right, on="k", direction="forward").collect()}
    assert fwd == {1: 9, 2: None}
    tol = {
        r.lv: r.r_rv
        for r in asof_join(left, right, on="k", tolerance_ms=10 * 60 * 1000).collect()
    }
    assert tol == {1: None, 2: None}  # 30min gap > 10min tolerance
    tol2 = {
        r.lv: r.r_rv
        for r in asof_join(left, right, on="k", tolerance_ms=45 * 60 * 1000).collect()
    }
    assert tol2 == {1: None, 2: 9}


def test_range_join_no_cartesian_plan(spark):
    import pandas as pd

    from incubator_beam_spark.dataops.temporal import range_join

    pts = spark.createDataFrame(
        pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 00:30", "2024-01-01 05:00"]),
                      "pid": [1, 2]})
    )
    iv = spark.createDataFrame(
        pd.DataFrame({"s": pd.to_datetime(["2024-01-01 00:00"]),
                      "e": pd.to_datetime(["2024-01-01 02:00"]),
                      "iid": [7]})
    )
    out = range_join(pts, iv, "ts", "s", "e")
    rows = out.collect()
    assert [(r.pid, r.iid) for r in rows] == [(1, 7)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_ivf_multiprobe_recall(spark):
    """nprobe=2 must dominate nprobe=1 recall vs exact brute force, and
    its candidate set must be a superset per query."""
    from pyspark.sql import functions as F

    from incubator_beam_spark.dataops.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = emb.filter(F.col("vec_id") < 8)  # 8 cells

    exact = {
        (r.query_id, r.match_id)
        for r in brute_force_topk(queries, emb, k=5).collect()
    }

    def recall(nprobe):
        got = {
            (r.query_id, r.match_id)
            for r in ivf_topk(queries, emb, centroids, k=5, nprobe=nprobe).collect()
        }
        return len(got & exact) / len(exact), got

    r1, g1 = recall(1)
    r2, g2 = recall(2)
    assert r2 >= r1
    assert r2 > 0.5  # multiprobe should find most true neighbors here


def test_run_inference_loads_model_once_per_worker(spark):
    import pandas as pd

    from incubator_beam_spark.dataops import inference as inf

    class CountingHandler(inf.LinearScoreHandler):
        def fingerprint(self):
            return "counting-handler-test"

        def load(self):
            import os, tempfile
            # count loads across worker processes via files
            tempfile.NamedTemporaryFile(
                dir=tempfile.gettempdir(), prefix="model_load_count_", delete=False
            ).close()
            return super().load()

    import glob, tempfile
    for f in glob.glob(tempfile.gettempdir() + "/model_load_count_*"):
        import os
        os.unlink(f)

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(2000)], ["vec_id", "embedding"]
    ).repartition(8)
    out = inf.run_inference(df, CountingHandler(), keep_cols=["vec_id"])
    n = out.count()
    assert n == 2000
    loads = len(glob.glob(tempfile.gettempdir() + "/model_load_count_*"))
    # at most one load per python worker (<= cores), far fewer than batches
    assert 1 <= loads <= 32


def test_run_inference_scores_match_numpy(spark):
    import numpy as np

    from incubator_beam_spark.dataops.inference import LinearScoreHandler, run_inference

    rows = [(i, [float(j + i) for j in range(10)]) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r.vec_id: r.score for r in run_inference(df, LinearScoreHandler(), keep_cols=["vec_id"]).collect()}
    w = (np.arange(10) % 7 - 3) / 4.0
    for i, v in rows:
        assert abs(got[i] - round(float(np.dot(v, w)), 6)) < 1e-9


def test_asof_join_hot_key_stress(spark):
    """One key owning ~200k rows must stream through the single-shuffle
    asof plan without driver-side materialization (documents the skew
    caveat: per-key work lands on one task, bounded by sort not memory
    explosion)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from incubator_beam_spark.dataops.temporal import asof_join

    n = 200_000
    left = (
        spark.range(n)
        .select(
            F.lit("hot").alias("k"),
            F.timestamp_micros((F.col("id") * 1000 + 500).cast("long")).alias("ts"),
            F.col("id").alias("lv"),
        )
    )
    right = (
        spark.range(n // 10)
        .select(
            F.lit("hot").alias("k"),
            F.timestamp_micros((F.col("id") * 10_000).cast("long")).alias("ts"),
            F.col("id").alias("rv"),
        )
    )
    out = asof_join(left, right, on="k")
    assert out.count() == n
    # spot-check the as-of invariant on a sample
    sample = out.filter(F.col("lv").isin(0, 12345, 199_999)).collect()
    for r in sample:
        assert r.r_rv == min((r.lv * 1000 + 500) // 10_000, n // 10 - 1)


def test_connected_components_mega_star(spark):
    """A 100k-edge star (worst-case hot node) converges in few rounds
    with min-aggregates only — nothing materializes the component."""
    from pyspark.sql import functions as F

    from incubator_beam_spark.dataops.dedup import connected_components

    edges = spark.range(1, 100_001).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    out = connected_components(edges)
    assert out.count() == 100_001
    assert out.filter(F.col("component") != 0).count() == 0


def test_run_inference_counts_via_metrics(spark):
    from incubator_beam_spark.dataops.inference import LinearScoreHandler, run_inference
    from incubator_beam_spark.metrics import Metrics

    ctr = Metrics.counter(spark, "num_inferences")
    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(500)], ["vec_id", "embedding"]
    )
    run_inference(df, LinearScoreHandler(), keep_cols=["vec_id"], num_inferences=ctr).count()
    assert ctr.value == 500


def test_simhash_pairs_finds_near_dups_with_guaranteed_recall(spark):
    from pyspark.sql import functions as F

    from incubator_beam_spark.dataops.dedup import simhash64, simhash_pairs

    base = ("spark catalyst optimizes declarative dataframe plans with "
            "predicate pushdown column pruning and whole stage codegen "
            "for efficient distributed execution at scale today")
    rows = [
        (0, base),
        (1, base),                                  # exact dup -> dist 0
        (2, base.replace("today", "tomorrow")),     # near dup
        (3, "completely unrelated short text about wav audio headers"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b): r.dist for r in simhash_pairs(docs).collect()}
    assert pairs[(0, 1)] == 0
    # pigeonhole guarantee: every pair with true distance <= 3 MUST appear
    sh = {r.doc_id: r.sh for r in docs.select(
        "doc_id", simhash64(F.col("text")).alias("sh")).collect()}
    for a in range(4):
        for b in range(a + 1, 4):
            true_d = bin(sh[a] ^ sh[b]).count("1")
            if true_d <= 3:
                assert (a, b) in pairs and pairs[(a, b)] == true_d
            else:
                assert (a, b) not in pairs


def test_nfc_normalize_combining_chars(spark):
    from incubator_beam_spark.dataops.text import nfc_normalize_df

    docs = spark.createDataFrame(
        [(0, "Café   du  Parc"), (1, "already nfc"), (2, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.norm_text for r in nfc_normalize_df(docs).collect()}
    assert got[0] == "café du parc"     # e + combining acute -> é, collapsed ws
    assert got[1] == "already nfc"
    assert got[2] is None


def test_compression_ratio_orders_repetitive_below_random(spark):
    import zlib

    from incubator_beam_spark.dataops.text import compression_ratio_df

    rep = "spam " * 500
    import random

    rng = random.Random(0)
    rnd = "".join(chr(rng.randrange(33, 123)) for _ in range(2500))
    docs = spark.createDataFrame([(0, rep), (1, rnd)], "doc_id long, text string")
    got = {r.doc_id: r.compression_ratio for r in compression_ratio_df(docs).collect()}
    assert got[0] < 0.05 < got[1]
    raw = rep.encode()
    assert got[0] == round(len(zlib.compress(raw, 6)) / len(raw), 6)


def test_stratified_sample_deterministic_and_bounded(spark):
    from incubator_beam_spark.dataops.text import stratified_sample

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "lang"
    )
    s1 = stratified_sample(d, "lang", {"en": 0.5, "de": 0.1}, seed=7)
    s2 = stratified_sample(d, "lang", {"en": 0.5, "de": 0.1}, seed=7)
    r1 = sorted(r.doc_id for r in s1.collect())
    assert r1 == sorted(r.doc_id for r in s2.collect())   # seeded determinism
    langs = {r.lang for r in s1.collect()}
    assert langs <= {"en", "de"}                          # absent strata dropped


def _ref_bpe(texts, k):
    import collections
    import re

    from incubator_beam_spark.dataops.bpe import END_OF_WORD

    hist = collections.Counter()
    for t in texts:
        for w in re.sub(r"\s+", " ", t.lower().strip()).split(" "):
            if w:
                hist[w] += 1
    syms = {w: list(w) + [END_OF_WORD] for w in hist}
    merges = []
    for step in range(k):
        pc = collections.Counter()
        for w, f in hist.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        maxw = max(pc.values())
        a, b = sorted(p for p, wt in pc.items() if wt == maxw)[0]
        merges.append((step, a, b, maxw))
        for w in syms:
            out = []
            for c in syms[w]:
                if out and out[-1] == a and c == b:
                    out[-1] = a + b
                else:
                    out.append(c)
            syms[w] = out
    return merges


def test_bpe_learn_matches_python_reference(spark):
    from incubator_beam_spark.dataops.bpe import bpe_learn

    corpora = [
        ["low lower lowest low low", "new newer newest new"],
        ["aaaa aaa aa a", "ab ab ab abc"],          # greedy-merge stress
        ["the the the quick quick brown fox"],
    ]
    for texts in corpora:
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        assert bpe_learn(docs, 5) == _ref_bpe(texts, 5), texts


def test_bpe_encode_applies_merges_in_rank_order(spark):
    from incubator_beam_spark.dataops.bpe import END_OF_WORD, bpe_encode, bpe_learn

    texts = ["low lower lowest low low", "new newer newest new"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_learn(docs, 4)
    out = {r.doc_id: list(r.tokens) for r in bpe_encode(docs, merges).collect()}

    # python reference applying the same merges in order
    def enc(w):
        s = list(w) + [END_OF_WORD]
        for _, a, b, _wt in merges:
            o = []
            for c in s:
                if o and o[-1] == a and c == b:
                    o[-1] = a + b
                else:
                    o.append(c)
            s = o
        return s

    for i, t in enumerate(texts):
        expected = [tok for w in t.split() for tok in enc(w)]
        assert out[i] == expected, (i, out[i], expected)


def test_png_header_codec_roundtrip():
    from incubator_beam_spark.dataops.multimodal import (
        encode_png_header,
        parse_png_meta,
    )

    hdr = encode_png_header(640, 480, bit_depth=8, color_type=6)
    assert parse_png_meta(hdr) == {
        "width": 640, "height": 480, "bit_depth": 8,
        "color_type": 6, "n_channels": 4,
    }
    assert parse_png_meta(b"not a png") is None
    assert parse_png_meta(hdr[:20]) is None
    corrupted = hdr[:-1] + bytes([hdr[-1] ^ 0xFF])   # break the CRC
    assert parse_png_meta(corrupted) is None


def test_png_gray_pixel_codec_roundtrip():
    from incubator_beam_spark.dataops.multimodal import (
        decode_png_gray,
        encode_png_gray,
    )

    px = bytes((i * 13 + 5) % 256 for i in range(8 * 8))
    png = encode_png_gray(px, 8, 8)
    assert decode_png_gray(png) == (8, 8, px)
    # corruption: flipped IEND CRC byte and truncated IDAT both reject
    bad = bytearray(png)
    bad[-5] ^= 0xFF
    assert decode_png_gray(bytes(bad)) is None
    assert decode_png_gray(png[:40]) is None
    # non-gray PNGs (header-only RGB fixture) are refused, not mis-decoded
    from incubator_beam_spark.dataops.multimodal import encode_png_header

    assert decode_png_gray(encode_png_header(4, 4, color_type=2)) is None


def test_decode_image_batch_real_png_path():
    """The kernel's no-Pillow path really decodes gray-8 PNGs (via
    decode_png_gray) instead of falling back to the deterministic fake."""
    from incubator_beam_spark.dataops.multimodal import (
        decode_image_batch,
        encode_png_gray,
    )

    png = encode_png_gray(bytes(range(12 * 9))[: 12 * 9], 12, 9)
    assert decode_image_batch(png) == {"width": 12, "height": 9, "n_channels": 1}
    # non-PNG bytes still get the deterministic fake (pipeline never dies)
    fake = decode_image_batch(b"\x00\x01garbage")
    assert set(fake) == {"width", "height", "n_channels"}


def test_png_gray_decode_all_filter_types():
    """Decode a PNG produced by an INDEPENDENT encoder that uses a
    different filter type per scanline (None/Sub/Up/Average/Paeth) —
    proves the un-filter logic, not just a round trip of filter 0."""
    import struct
    import zlib

    from incubator_beam_spark.dataops.multimodal import decode_png_gray

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    w, h = 6, 5
    pixels = bytes((x * 37 + y * 91) % 256 for y in range(h) for x in range(w))
    raw = bytearray()
    prev = bytes(w)
    for y in range(h):
        line = pixels[y * w : (y + 1) * w]
        f = y % 5
        raw.append(f)
        for x in range(w):
            a = line[x - 1] if x else 0
            b, c = prev[x], (prev[x - 1] if x else 0)
            if f == 0:
                raw.append(line[x])
            elif f == 1:
                raw.append((line[x] - a) & 0xFF)
            elif f == 2:
                raw.append((line[x] - b) & 0xFF)
            elif f == 3:
                raw.append((line[x] - ((a + b) >> 1)) & 0xFF)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                raw.append((line[x] - pred) & 0xFF)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )
    assert decode_png_gray(png) == (w, h, pixels)


def test_compression_roundtrip_df(spark):
    from incubator_beam_spark.dataops.text import compression_roundtrip_df

    d = spark.createDataFrame(
        [(1, "hello world " * 50), (2, ""), (3, "x")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in compression_roundtrip_df(d).collect()}
    assert all(rows[i].roundtrip_ok for i in (1, 2, 3))
    assert all(rows[i].ratio_bounded for i in (1, 2, 3))


def test_mp4_box_codec_roundtrip():
    from incubator_beam_spark.dataops.multimodal import (
        encode_mp4_header,
        parse_mp4_meta,
    )

    hdr = encode_mp4_header(duration_ms=90_500, timescale=600)
    meta = parse_mp4_meta(hdr)
    assert meta == {"major_brand": "isom", "timescale": 600, "duration_ms": 90_500}
    assert parse_mp4_meta(b"short") is None
    assert parse_mp4_meta(b"\x00" * 40) is None


def test_profile_columns_single_aggregate_plan(spark):
    from incubator_beam_spark.dataops.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (3, "b")], "x long, s string"
    )
    row = profile_columns(df).collect()[0]
    assert row.n_rows == 4
    assert row.s_nulls == 1 and row.s_distinct == 2
    assert row.x_min == "1" and row.x_max == "3" and row.x_distinct == 3
    # one scan: no join/union in the plan
    plan = profile_columns(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Union" not in plan


def test_deterministic_shuffle_is_engine_stable(spark):
    import hashlib

    from incubator_beam_spark.dataops.packing import deterministic_shuffle

    d = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    got = {r.doc_id: r.shuffle_pos for r in deterministic_shuffle(d, seed=7).collect()}
    expected_order = sorted(
        range(100), key=lambda i: (hashlib.md5(f"7|{i}".encode()).hexdigest(), i)
    )
    assert got == {doc: pos for pos, doc in enumerate(expected_order)}


def test_pack_sequences_invariants(spark):
    from pyspark.sql import functions as F

    from incubator_beam_spark.dataops.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, 50 + (i * 37) % 400) for i in range(500)] + [(999, 5000)],
        "doc_id long, n_tokens long",
    )
    out = pack_sequences(docs, budget=1024, n_partitions=4).cache()
    rows = out.collect()
    # every document exactly once
    assert sorted(r.doc_id for r in rows) == sorted([i for i in range(500)] + [999])
    # no pack over budget except oversized singletons
    per_pack = out.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    for p in per_pack.collect():
        assert p.tot <= 1024 or p.n == 1
    # pack_tokens column consistent with the actual pack sum
    joined = out.join(per_pack, "pack_id")
    assert joined.filter(F.col("pack_tokens") != F.col("tot")).count() == 0
    # decent utilization: average fill of non-oversized packs > 70%
    fills = [p.tot / 1024 for p in per_pack.collect() if p.tot <= 1024]
    assert sum(fills) / len(fills) > 0.7


def test_hash_split_groups_never_straddle(spark):
    from pyspark.sql import functions as F

    from incubator_beam_spark.dataops.packing import hash_split

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "source"
    )
    out = hash_split(d, "source", test_pct=20, val_pct=20, seed=3)
    # every group maps to exactly one split
    per_group = out.groupBy("source").agg(F.countDistinct("split").alias("k"))
    assert per_group.filter(F.col("k") > 1).count() == 0
    # stability: same seed same assignment
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in hash_split(d, "source", 20, 20, 3).collect()}
    assert a == b


def test_asof_join_null_timestamps(spark):
    import pandas as pd

    from incubator_beam_spark.dataops.temporal import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"],
                      "ts": pd.to_datetime(["2024-01-01 01:00", pd.NaT]),
                      "lv": [1, 2]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"],
                      "ts": pd.to_datetime(["2024-01-01 00:30", pd.NaT]),
                      "rv": [9, 666]})
    )
    for direction in ("backward", "forward"):
        got = {r.lv: r.r_rv for r in asof_join(
            left, right, on="k", direction=direction).collect()}
        assert got[2] is None, direction          # null left ts: no match
        assert got[1] != 666, direction           # null right ts never matches


def test_range_join_degenerate_intervals_dropped(spark):
    import pandas as pd

    from incubator_beam_spark.dataops.temporal import range_join

    pts = spark.createDataFrame(
        pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 00:30"]), "pid": [1]})
    )
    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                "s": pd.to_datetime(["2024-01-01 01:00", "2024-01-01 00:00", pd.NaT]),
                "e": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00", pd.NaT]),
                "iid": [7, 8, 9],   # 7 reversed, 9 null — only 8 can match
            }
        )
    )
    rows = range_join(pts, iv, "ts", "s", "e").collect()
    assert [(r.pid, r.iid) for r in rows] == [(1, 8)]


def test_quantize_embeddings_roundtrip_error_bounded(spark):
    import math

    from pyspark.sql import functions as F

    from incubator_beam_spark.dataops.similarity import (
        cosine,
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = quantize_embeddings(emb)
    codes = q.select(F.explode("codes").alias("c"))
    lo, hi = codes.agg(F.min("c"), F.max("c")).collect()[0]
    assert 0 <= lo and hi <= 255
    # dequantized vectors stay close in cosine to the originals
    deq = dequantize_embeddings(q).withColumnRenamed("embedding", "emb_q")
    joined = emb.join(deq, "vec_id").select(
        cosine(
            F.transform("embedding", lambda x: x.cast("double")), F.col("emb_q")
        ).alias("cos")
    )
    worst = joined.agg(F.min("cos")).collect()[0][0]
    assert worst > 0.999


# --- curation: contamination / DSIR / domain rebalance ---------------------


def test_benchmark_overlap_flags_contaminated_doc(spark):
    from incubator_beam_spark.dataops.curation import benchmark_overlap

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # verbatim copy
            (2, "one two three four five six seven eight nine"),  # disjoint
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in benchmark_overlap(docs, bench, n=3).collect()}
    assert out[1].contaminated == 1 and out[1].n_hit == out[1].n_ngrams
    assert out[2].contaminated == 0 and out[2].n_hit == 0


def test_benchmark_overlap_short_docs_absent(spark):
    from incubator_beam_spark.dataops.curation import benchmark_overlap

    bench = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    docs = spark.createDataFrame([(9, "just two")], ["doc_id", "text"])
    assert benchmark_overlap(docs, bench, n=3).count() == 0


def test_dsir_ranks_target_like_docs_higher(spark):
    from incubator_beam_spark.dataops.curation import dsir_log_ratio

    rows = (
        # target-domain docs: vocabulary A
        [(i, "alpha beta gamma delta alpha beta", 1) for i in range(10)]
        # off-domain docs: vocabulary B
        + [(100 + i, "omega psi chi phi omega psi", 0) for i in range(10)]
        # one unscored-domain doc written in the TARGET vocabulary
        + [(999, "alpha beta gamma delta", 0)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_t"])
    w = {
        r.doc_id: r.dsir_logratio
        for r in dsir_log_ratio(df, target=F.col("is_t") == 1).collect()
    }
    assert w[0] > w[100]  # target vocab outranks off-domain vocab
    assert w[999] > w[100]  # ...even for a doc outside the target subset


def test_domain_rebalance_deterministic_and_uniformish(spark):
    from incubator_beam_spark.dataops.curation import domain_rebalance

    rows = [(i, "big") for i in range(900)] + [(1000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept1 = sorted(r.doc_id for r in domain_rebalance(df).collect())
    kept2 = sorted(r.doc_id for r in domain_rebalance(df).collect())
    assert kept1 == kept2  # no RNG anywhere
    by_src = (
        domain_rebalance(df).groupBy("source").count().rdd.collectAsMap()
    )
    # small domain keeps everything (fraction 1); big domain ~100 in expectation
    assert by_src["small"] == 100
    assert 60 <= by_src["big"] <= 140


def test_group_centroid_scores_flags_planted_outlier(spark):
    from incubator_beam_spark.dataops.similarity import group_centroid_scores

    rows = [(i, [1.0, 0.0, 0.0, 0.0], "a") for i in range(5)]
    rows.append((99, [-1.0, 0.0, 0.0, 0.0], "a"))  # anti-aligned outlier
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r.vec_id: r.centroid_cos for r in group_centroid_scores(df).collect()}
    assert out[99] == min(out.values()) and out[99] < 0
    assert all(v > 0.99 for k, v in out.items() if k != 99)


def test_sign_projection_preserves_relative_distance(spark):
    # JL property (coarse): a vector far from another stays farther than
    # a near-identical one, in the projected space
    import numpy as np

    from incubator_beam_spark.dataops.similarity import (
        sign_project,
        sign_projection_matrix,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=32)
    near = base + rng.normal(scale=0.01, size=32)
    far = rng.normal(size=32)
    df = spark.createDataFrame(
        [(0, base.tolist()), (1, near.tolist()), (2, far.tolist())],
        ["vec_id", "embedding"],
    )
    out = {r.vec_id: np.array(r.projected) for r in sign_project(df, k=16).collect()}
    d_near = np.linalg.norm(out[0] - out[1])
    d_far = np.linalg.norm(out[0] - out[2])
    assert d_near < d_far
    # and the Spark projection equals the numpy reference exactly
    m = np.array(sign_projection_matrix(32, 16))
    np.testing.assert_allclose(out[0], m @ base, rtol=1e-12)


def test_incremental_new_drops_seen_fingerprints(spark):
    from incubator_beam_spark.dataops.dedup import incremental_new

    seen = spark.createDataFrame([(1, "old page"), (2, "another old")], ["doc_id", "text"])
    inc = spark.createDataFrame(
        [(10, "old page"), (11, "brand new page")], ["doc_id", "text"]
    )
    kept = [r.doc_id for r in incremental_new(inc, seen).collect()]
    assert kept == [11]


def test_weighted_sample_biases_toward_heavy_rows(spark):
    from incubator_beam_spark.dataops.curation import weighted_sample

    # 500 light rows (w=1) + 500 heavy rows (w=20): heavy should dominate
    rows = [(i, 1) for i in range(500)] + [(1000 + i, 20) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    kept = [r.doc_id for r in weighted_sample(df, F.col("w"), k=100).collect()]
    heavy = sum(1 for d in kept if d >= 1000)
    assert heavy > 80  # expectation ~95
    kept2 = [r.doc_id for r in weighted_sample(df, F.col("w"), k=100).collect()]
    assert kept == kept2  # deterministic


def test_bm25_ranks_matching_docs_first(spark):
    from incubator_beam_spark.dataops.retrieval import bm25_topk

    rows = [
        (1, "spark spark spark shuffle"),
        (2, "spark shuffle plan"),
        (3, "pandas numpy arrow"),
        (4, "spark"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_topk(df, ["spark"], k=10).collect()
    ids = [r.doc_id for r in got]
    assert 3 not in ids  # no query term -> no score
    assert ids[0] == 1  # highest tf wins
    assert all(r.score > 0 for r in got)
    # shorter doc with same tf=1 outranks longer one (length normalization)
    assert ids.index(4) < ids.index(2)


def test_chunk_tokens_overlap_and_tail(spark):
    from incubator_beam_spark.dataops.retrieval import chunk_tokens

    words = ["wa", "wb", "wc", "wd", "we", "wf", "wg", "wh", "wi", "wj"]
    df = spark.createDataFrame([(1, " ".join(words)), (2, "")], ["doc_id", "text"])
    got = chunk_tokens(df, size=4, stride=3).orderBy("chunk_idx").collect()
    assert [r.doc_id for r in got] == [1, 1, 1, 1]  # empty doc drops out
    assert [r.chunk_text for r in got] == [
        "wa wb wc wd",
        "wd we wf wg",
        "wg wh wi wj",
        "wj",
    ]
    assert [r.n_tok for r in got] == [4, 4, 4, 1]


def test_pq_adc_approximates_exact_nn(spark):
    # ADC over 8x16 codes must put the query's own vector first and keep
    # reasonable overlap with the exact integer-L2 top-10
    from incubator_beam_spark.dataops.pq import (
        pq_adc_lut, pq_adc_topk, pq_codebook, pq_encode, quantized)
    from incubator_beam_spark.catalog import table
    from tests.conftest import SF_DIR

    e = table(spark, SF_DIR, "embeddings")
    cb = pq_codebook(e, n_centroids=16, m=8)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    qvec = e.filter(F.col("vec_id") == 7).select(
        quantized(F.col("embedding")).alias("q")).collect()[0].q
    got = pq_adc_topk(pq_encode(e, cb), pq_adc_lut(cb, list(qvec)), k=10).collect()
    ids = [r.vec_id for r in got]
    assert ids[0] == 7 and got[0].adc_dist >= 0
    # exact integer-L2 top-10 via numpy for overlap check
    import numpy as np
    rows = e.select("vec_id", quantized(F.col("embedding")).alias("q")).collect()
    mat = np.array([r.q for r in rows], dtype=np.int64)
    vid = np.array([r.vec_id for r in rows])
    d = ((mat - np.array(qvec, dtype=np.int64)) ** 2).sum(axis=1)
    exact = set(vid[np.argsort(d, kind="stable")[:10]].tolist())
    assert len(exact & set(ids)) >= 3  # coarse 16-centroid codebook, small n


def test_pq_codes_are_small_ints(spark):
    from incubator_beam_spark.dataops.pq import pq_codebook, pq_encode
    from incubator_beam_spark.catalog import table
    from tests.conftest import SF_DIR

    e = table(spark, SF_DIR, "embeddings")
    codes = pq_encode(e, pq_codebook(e)).collect()
    assert len(codes) == e.count()
    for r in codes[:50]:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)


def test_token_entropy_orders_diversity(spark):
    from incubator_beam_spark.dataops.text import token_entropy

    rows = [
        (1, "spam spam spam spam"),          # zero entropy, 1 type
        (2, "alpha beta gamma delta"),       # max entropy, 4 types
        (3, "alpha alpha beta beta"),        # middling, 2 types
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    n_types, ent = token_entropy(F.col("text"))
    out = {r.doc_id: (r.t, r.h) for r in
           df.select("doc_id", n_types.alias("t"), ent.alias("h")).collect()}
    assert out[1] == (1, 0.0)
    assert out[2][0] == 4 and abs(out[2][1] - 1.386294) < 1e-6  # ln 4
    assert out[3][0] == 2 and abs(out[3][1] - 0.693147) < 1e-6  # ln 2
    assert out[1][1] < out[3][1] < out[2][1]


def test_ivfpq_index_and_probe(spark):
    from incubator_beam_spark.dataops.pq import (
        ivfpq_index, pq_adc_lut, pq_adc_topk, pq_codebook, quantized)
    from incubator_beam_spark.catalog import table
    from tests.conftest import SF_DIR

    e = table(spark, SF_DIR, "embeddings")
    seeds = e.filter(F.col("vec_id") < 16)
    cb = pq_codebook(e)
    idx = ivfpq_index(e, seeds, cb)
    assert idx.columns == ["vec_id", "cell", "codes"]
    assert idx.count() == e.count()  # every vector indexed exactly once
    # probing the query's cell returns the query itself first
    qcell = idx.filter(F.col("vec_id") == 7).select("cell")
    cand = idx.join(F.broadcast(qcell), "cell").select("vec_id", "codes")
    qvec = e.filter(F.col("vec_id") == 7).select(
        quantized(F.col("embedding")).alias("q")).collect()[0].q
    got = pq_adc_topk(cand, pq_adc_lut(cb, list(qvec)), k=5).collect()
    assert got[0].vec_id == 7
    assert cand.count() < e.count()  # probe scans a strict subset


def test_concat_chunk_spans_tile_exactly(spark):
    from incubator_beam_spark.dataops.packing import concat_chunk_spans
    from incubator_beam_spark.dataops.text import token_count
    from incubator_beam_spark.catalog import table
    from tests.conftest import SF_DIR

    d = table(spark, SF_DIR, "documents")
    spans = concat_chunk_spans(d, block=512, n_buckets=64).cache()
    total_tok = d.select(F.sum(token_count(F.col("text")) + 1).alias("t")).collect()[0].t
    # every block except the last is exactly full, and they tile [0, total)
    per_block = {r.block_id: r.s for r in
                 spans.groupBy("block_id").agg(F.sum("n_tok").alias("s")).collect()}
    last = max(per_block)
    assert all(v == 512 for b, v in per_block.items() if b != last)
    assert sum(per_block.values()) == total_tok
    assert set(per_block) == set(range(last + 1))  # no gaps
    # every document is fully covered exactly once (its tokens + 1 sep)
    doc_cov = {r.doc_id: r.s for r in
               spans.groupBy("doc_id").agg(F.sum("n_tok").alias("s")).collect()}
    doc_tok = {r.doc_id: r.t + 1 for r in
               d.select("doc_id", token_count(F.col("text")).alias("t")).collect()}
    assert doc_cov == doc_tok
    spans.unpersist()


def test_temperature_resample_flattens_mixture(spark):
    from incubator_beam_spark.dataops.curation import temperature_resample

    rows = [(i, "big") for i in range(900)] + [(900 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = temperature_resample(df, "source").groupBy("source").count().collect()
    out = {r.source: r["count"] for r in kept}
    # small domain keeps everything (f capped at 1), big is downsampled
    assert out["small"] == 100
    assert 500 < out["big"] < 850  # target q_big*N = .75*1000/900 => ~750
    # deterministic
    kept2 = temperature_resample(df, "source").groupBy("source").count().collect()
    assert {r.source: r["count"] for r in kept2} == out


def test_zorder_layout_files_own_disjoint_z_ranges(spark, tmp_path):
    """zorder_layout + write must produce files whose z-intervals (hence
    (x, y) rectangles) are disjoint — the property parquet min/max
    pruning needs."""
    import pyarrow.parquet as pq

    from incubator_beam_spark.catalog import table
    from incubator_beam_spark.dataops.layout import zorder_layout, zvalue

    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    out = str(tmp_path / "zord")
    zorder_layout(li, "l_orderkey", "l_partkey", n_files=8).write.parquet(out)

    import glob

    ranges = []
    for f in sorted(glob.glob(out + "/*.parquet")):
        t = pq.read_table(f).to_pandas()
        if not len(t):
            continue
        z = t.apply(
            lambda r: _py_zvalue(int(r.l_orderkey), int(r.l_partkey)), axis=1
        )
        ranges.append((z.min(), z.max()))
    ranges.sort()
    assert len(ranges) >= 4
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo  # pairwise disjoint (boundary ties allowed)

    # spark zvalue == python reference on a sample
    got = (
        li.limit(100)
        .select("l_orderkey", "l_partkey", zvalue(F.col("l_orderkey"), F.col("l_partkey")).alias("z"))
        .collect()
    )
    for r in got:
        assert r.z == _py_zvalue(r.l_orderkey, r.l_partkey)


def _py_zvalue(x: int, y: int) -> int:
    def spread(v: int) -> int:
        v &= 0xFFFF
        v = (v | (v << 8)) & 0x00FF00FF
        v = (v | (v << 4)) & 0x0F0F0F0F
        v = (v | (v << 2)) & 0x33333333
        v = (v | (v << 1)) & 0x55555555
        return v

    return spread(x) | (spread(y) << 1)


def test_kmeans_lloyd_matches_numpy_exactly(spark):
    """The integer Lloyd trajectory must be bit-identical to a numpy
    mirror: same assignments, same centroids, every iteration."""
    import numpy as np

    from incubator_beam_spark.dataops.similarity import kmeans_lloyd

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assigned, cents = kmeans_lloyd(emb, k=4, n_iters=3)
    got = {r.vec_id: r.cell for r in assigned.collect()}

    def e4(v):
        # Spark F.round is HALF_UP (away from zero); np.round is half-even
        x = np.array(v, dtype="float64") * 10000
        return np.trunc(x + np.copysign(0.5, x)).astype("int64")

    rows = sorted(
        (r.vec_id, e4(r.embedding))
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = [i for i, _ in rows]
    X = np.stack([v for _, v in rows])
    C = X[:4].copy()
    for _ in range(3):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cell = d.argmin(axis=1)  # argmin takes first (lowest) on ties
        for j in range(4):
            if (cell == j).any():
                C[j] = X[cell == j].sum(axis=0) // (cell == j).sum()
    for i, vid in enumerate(ids):
        assert got[vid] == cell[i], vid
    assert [list(c) for c in C] == cents


def test_bloom_prefilter_join_equals_plain_join(spark):
    from incubator_beam_spark.dataops.joins import bloom_prefilter_join

    dim = spark.range(0, 500).select((F.col("id") * 7).alias("key"), F.col("id").alias("v"))
    fact = spark.range(0, 20000).select((F.col("id") % 7000).alias("key"), F.col("id").alias("x"))
    got = sorted((r.key, r.x, r.v) for r in bloom_prefilter_join(fact, dim, on="key").collect())
    want = sorted((r.key, r.x, r.v) for r in fact.join(dim, "key").collect())
    assert got == want


def test_bloom_no_false_negatives_tiny_filter(spark):
    """Even a deliberately saturated (256-bit) filter never drops a
    match — false positives only, removed by the real join."""
    from incubator_beam_spark.dataops.joins import bloom_prefilter_join

    dim = spark.range(0, 300).select(F.col("id").alias("key"))
    fact = spark.range(0, 1000).select(F.col("id").alias("key"))
    out = bloom_prefilter_join(fact, dim, on="key", num_bits=256, k=3)
    assert out.count() == 300


def test_bloom_prefilter_rejects_outer_join(spark):
    from incubator_beam_spark.dataops.joins import bloom_prefilter_join

    d = spark.range(1).select(F.col("id").alias("key"))
    with pytest.raises(ValueError, match="inner/semi"):
        bloom_prefilter_join(d, d, on="key", how="left")


def test_bloom_membership_selectivity(spark):
    """A 2^17-bit filter over 1k keys (~0.13 bits load) keeps ~only the
    matchable fraction: false-positive rate must be < 1%."""
    from incubator_beam_spark.dataops.joins import bloom_build, bloom_might_contain

    dim = spark.range(0, 1000).select((F.col("id") * 3).alias("key"))
    words = bloom_build(dim, "key", num_bits=1 << 17, k=7)
    fact = spark.range(0, 30000).select(F.col("id").alias("key"))
    kept = fact.filter(bloom_might_contain(words, F.col("key"), 1 << 17, 7)).count()
    matchable = fact.join(dim, "key", "semi").count()
    assert matchable <= kept <= matchable + 0.01 * 30000


def test_local_contract_regression_relaxation_after_doubling(spark):
    """Regression: edges (0,4),(1,3),(3,4) in ONE partition — the min
    reaches node 1 only via a relaxation pass AFTER a doubling pass was
    already stable, so a doubling-only fixpoint test loses node 1."""
    from incubator_beam_spark.dataops.dedup import _local_contract

    e = spark.createDataFrame([(4, 0), (3, 1), (4, 3)], "u long, v long").coalesce(1)
    got = sorted((r.u, r.v) for r in _local_contract(e).collect())
    assert got == [(1, 0), (3, 0), (4, 0)]


def test_connected_components_contract_on_off_identical(spark):
    from incubator_beam_spark.dataops.dedup import connected_components

    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    e = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    on = {r.node: r.component for r in connected_components(e).collect()}
    off = {
        r.node: r.component
        for r in connected_components(e, local_contract=False).collect()
    }
    assert on == off


def test_epoch_repeats_equalizes_domains(spark):
    """Expected copies per domain ~= the largest domain's size; the
    largest domain itself repeats exactly once per doc."""
    from incubator_beam_spark.dataops.curation import epoch_repeats

    rows = [(i, "big") for i in range(600)] + [(1000 + i, "small") for i in range(100)]
    d = spark.createDataFrame(rows, ["doc_id", "source"])
    out = epoch_repeats(d)
    per = {r.domain: r.s for r in out.groupBy("domain").agg(F.sum("n_copies").alias("s")).collect()}
    assert per["big"] == 600                      # rate exactly 1.0
    assert 540 <= per["small"] <= 660             # 6.0 epochs +- sampling
    assert out.filter(F.col("n_copies") < 1).count() == 0


def test_epoch_repeats_deterministic(spark):
    from incubator_beam_spark.dataops.curation import epoch_repeats

    rows = [(i, "a" if i % 3 else "b") for i in range(200)]
    d = spark.createDataFrame(rows, ["doc_id", "source"])
    a = sorted((r.doc_id, r.n_copies) for r in epoch_repeats(d).collect())
    b = sorted((r.doc_id, r.n_copies) for r in epoch_repeats(d).collect())
    assert a == b


def test_neardup_pairs_hot_bucket_cap(spark):
    # a planted degenerate cluster: 40 identical vectors share one sign
    # bucket -> quadratic without the cap; 2 normal near-dups elsewhere
    deg = [0.001] * 8
    base = [1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0]
    jig = [v * 0.99 for v in base]
    rows = [(i, deg) for i in range(100, 140)] + [(1, base), (2, jig)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    capped = {
        (r.id_a, r.id_b)
        for r in similarity.neardup_pairs(
            emb, dim=8, threshold=0.9, n_planes=4, max_bucket=10
        ).collect()
    }
    # degenerate bucket dropped entirely; the healthy pair survives
    assert (1, 2) in capped
    assert all(a < 100 and b < 100 for a, b in capped)
    uncapped = similarity.neardup_pairs(
        emb, dim=8, threshold=0.9, n_planes=4, max_bucket=None
    ).count()
    assert uncapped >= 40 * 39 / 2  # the quadratic blow-up the cap prevents
    # verbose=True: same result, but the drop is LOUD (round-4 ADVICE) —
    # warns with the dropped bucket/vector counts
    import warnings as _w

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        loud = {
            (r.id_a, r.id_b)
            for r in similarity.neardup_pairs(
                emb, dim=8, threshold=0.9, n_planes=4, max_bucket=10,
                verbose=True,
            ).collect()
        }
    assert loud == capped
    msgs = [str(c.message) for c in caught if "neardup_pairs" in str(c.message)]
    assert msgs and "dropping 1 bucket(s)" in msgs[0] and "40 vectors" in msgs[0]


def test_minhash_hot_bucket_cap_engages_and_counters_decompose(spark):
    """VERDICT r10 'What's wrong' 3: the minhash hot-bucket cap must
    ENGAGE on a degenerate corpus, and the bench scale lane's pair
    counters must decompose the candidate volume into kept vs averted
    pairs. 50 byte-identical docs share EVERY band key (one degenerate
    bucket per band -> quadratic without the cap); two healthy near-dups
    pair through selective buckets and must survive the cap."""
    import bench as bench_mod

    ident = "the same boilerplate page body repeated verbatim every crawl"
    rows = [(i, ident) for i in range(100, 150)] + [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, max_bucket=10).collect()
    }
    assert (1, 2) in capped  # healthy pair survives
    assert all(a < 100 and b < 100 for a, b in capped)  # degenerates dropped
    uncapped = dedup.minhash_lsh_pairs(docs, max_bucket=None).count()
    assert uncapped >= 50 * 49 / 2  # the blow-up the cap prevents

    # the lane counter function sees the same structure: with the 1000
    # default the 50-doc bucket is KEPT (candidate pairs include it);
    # the decomposition identity candidate = kept + averted holds at any
    # cap, and max occupancy reports the degenerate bucket's size
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        c_default = bench_mod._minhash_pair_counters(spark, td, 1)
        c_capped = bench_mod._minhash_pair_counters(spark, td, 1, max_bucket=10)
    assert c_default["max_bucket_occupancy"] >= 50
    assert c_default["hot_buckets_dropped"] == 0
    assert c_capped["hot_buckets_dropped"] >= 1
    assert c_capped["averted_pairs"] >= 50 * 49 / 2
    assert (
        c_capped["candidate_pairs"] + c_capped["averted_pairs"]
        == c_default["candidate_pairs"] + c_default["averted_pairs"]
    )


def test_pagerank_pure_python_differential(spark):
    """dataops/graph.py pagerank vs a direct per-node Python loop on a
    hand-built irregular graph (hub, chain, dangling node, parallel
    edge) — bit-identical integer trajectories."""
    from incubator_beam_spark.dataops.graph import pagerank

    # 0->1, 0->2, 1->2, 2->0, 3->2, 3->2 (parallel), 4 dangling
    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 2)]
    node_list = [0, 1, 2, 3, 4]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in node_list], "id long")
    got = {r.id: r.rank for r in pagerank(edges, nodes, n_iters=4).collect()}

    total, num, den = 10**12, 85, 100
    n = len(node_list)
    base = total // n
    tp = ((den - num) * base) // den
    deg = {}
    for s, _ in edge_list:
        deg[s] = deg.get(s, 0) + 1
    r = {v: base for v in node_list}
    for _ in range(4):
        s = {v: 0 for v in node_list}
        for u, v in edge_list:
            s[v] += r[u] // deg[u]
        r = {v: tp + (num * s[v]) // den for v in node_list}
    assert got == r
    # sanity: the structure is non-trivial — 2 is the hub, 4 is bare
    assert r[2] > r[0] > r[4] and r[4] == tp


def test_doc_pagerank_oracle(spark, duck):
    """Exact-DuckDB-oracle check for the PageRank device (future-window
    gate): the full N-row integer rank table after three unrolled damped
    rounds hash-matches between engines, and ranks are non-uniform."""
    from incubator_beam_spark.queries.dataops import PAGERANK_ORACLE, doc_pagerank

    from .conftest import assert_matches_oracle

    out = doc_pagerank(spark, SF_DIR)
    assert_matches_oracle(out, duck, PAGERANK_ORACLE, "doc_pagerank")
    distinct_ranks = out.select("rank_micro").distinct().count()
    assert distinct_ranks > 10


def test_jpeg_codec_roundtrip_and_rejects():
    """The pure-byte JPEG marker parser: encode->parse roundtrip across
    the fixture space (baseline/progressive, 1/3 components, COM
    segments, fill bytes), and loud None on malformed streams."""
    from incubator_beam_spark.dataops.multimodal import (
        encode_jpeg_header,
        parse_jpeg_meta,
    )

    for w, h, nc, prog, com in [
        (80, 60, 3, False, b""),
        (640, 480, 1, True, b"hello"),
        (1, 1, 3, True, b""),
        (65535, 65535, 4, False, b"x" * 200),
    ]:
        m = parse_jpeg_meta(encode_jpeg_header(w, h, nc, prog, com))
        assert m == {
            "width": w, "height": h, "precision": 8,
            "n_components": nc, "progressive": prog,
        }
    # fill bytes before a marker are legal padding
    good = encode_jpeg_header(10, 20)
    padded = good[:2] + b"\xff" + good[2:]
    assert parse_jpeg_meta(padded)["width"] == 10
    # malformed: no SOI / truncated segment / SOS before SOF /
    # desynchronized stream / length too short
    assert parse_jpeg_meta(b"\x00\x00") is None
    assert parse_jpeg_meta(good[:-6]) is None  # SOF truncated mid-segment
    assert parse_jpeg_meta(b"\xff\xd8\xff\xda\x00\x04ab") is None
    assert parse_jpeg_meta(b"\xff\xd8ab") is None
    assert parse_jpeg_meta(b"\xff\xd8\xff\xe0\x00\x01") is None


def test_mm_jpeg_meta_oracle(spark, duck):
    """Exact-oracle check for the JPEG metadata device: the oracle
    predicts every parsed field arithmetically from doc_id, so any
    wrong offset/endianness/length rule in the real marker walk fails
    the hash."""
    from incubator_beam_spark.queries.dataops import JPEG_META_ORACLE, mm_jpeg_meta

    from .conftest import assert_matches_oracle

    assert_matches_oracle(mm_jpeg_meta(spark, SF_DIR), duck, JPEG_META_ORACLE,
                          "mm_jpeg_meta")


def test_bigram_kn_textbook_reference(spark):
    """Kneser-Ney scoring vs a from-the-formula pure-Python reference
    on a tiny corpus with a repeated collocation (the 'San Francisco'
    shape KN exists for)."""
    import math

    from incubator_beam_spark.dataops.curation import bigram_kn_logprob

    texts = [
        (0, "san francisco is foggy"),
        (1, "san francisco is big"),
        (2, "new york is big"),
        (3, "francisco said hello"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.doc_id: r.mean_kn_logprob for r in bigram_kn_logprob(docs).collect()}

    toks = {i: t.split() for i, t in texts}
    pairs = [(w1, w2) for ts in toks.values() for w1, w2 in zip(ts, ts[1:])]
    from collections import Counter

    c2 = Counter(pairs)
    c1 = Counter(w1 for w1, _ in pairs)
    fwd = {w1: len({b for a, b in c2 if a == w1}) for w1, _ in pairs}
    bwd = {w2: len({a for a, b in c2 if b == w2}) for _, w2 in pairs}
    B = len(c2)
    d = 0.75

    def p(w1, w2):
        return (max(c2[(w1, w2)] - d, 0.0) + d * fwd[w1] * bwd[w2] / B) / c1[w1]

    want = {
        i: round(
            sum(math.log(p(w1, w2)) for w1, w2 in zip(ts, ts[1:]))
            / (len(ts) - 1),
            4,
        )
        for i, ts in toks.items()
    }
    assert got == want
    # the collocation effect: 'francisco' follows only 'san', so its
    # continuation mass is small despite its frequency — p(francisco|san)
    # is dominated by the discounted bigram, and a novel continuation
    # like p(said|francisco) leans on the back-off
    assert p("san", "francisco") > 0.6


def test_doc_bigram_kn_oracle(spark, duck):
    """Exact-oracle check for the KN bigram device at the fixture SF."""
    from incubator_beam_spark.queries.dataops import (
        BIGRAM_KN_ORACLE,
        doc_bigram_kn_logprob,
    )

    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        doc_bigram_kn_logprob(spark, SF_DIR), duck, BIGRAM_KN_ORACLE,
        "doc_bigram_kn_logprob",
    )


def test_bigram_kn_seeded_random_differential(spark):
    """KN scoring vs the pure-Python formula on seeded-random corpora
    (varying vocab sizes, doc counts, lengths — length-2 docs and
    repeated-token runs included). The LM is corpus-global, so each
    random corpus runs as its own DataFrame."""
    import math
    import random
    from collections import Counter

    from incubator_beam_spark.dataops.curation import bigram_kn_logprob

    rng = random.Random(4242)
    for trial in range(6):
        # pure-alphabetic words: the operator's regex tokenizer splits
        # alphanumerics like 'w0' into two tokens, the reference's
        # .split() does not
        vocab = [chr(ord("a") + j) * 2 for j in range(rng.randint(2, 8))]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12))))
            for i in range(rng.randint(2, 8))
        ]
        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: r.mean_kn_logprob for r in bigram_kn_logprob(sdf).collect()
        }
        toks = {i: t.split() for i, t in docs}
        pairs = [(a, b) for ts in toks.values() for a, b in zip(ts, ts[1:])]
        c2 = Counter(pairs)
        c1 = Counter(a for a, _ in pairs)
        fwd = Counter()
        bwd = Counter()
        for a, b in c2:
            fwd[a] += 1
            bwd[b] += 1
        B = len(c2)
        d = 0.75

        def p(a, b):
            return (max(c2[(a, b)] - d, 0.0) + d * fwd[a] * bwd[b] / B) / c1[a]

        want = {
            i: round(
                sum(math.log(p(a, b)) for a, b in zip(ts, ts[1:]))
                / (len(ts) - 1),
                4,
            )
            for i, ts in toks.items()
            if len(ts) >= 2
        }
        assert got == want, (trial, docs)


def test_doc_hashngram_classify_oracle(spark, duck):
    """Exact-oracle check for the hashed-ngram classifier device
    (future-window gate): integer logits for all 3 classes AND the
    argmax prediction hash-match row for row, and the fixture yields a
    genuinely mixed class distribution (the argmax is exercised, not
    constant)."""
    from incubator_beam_spark.queries.dataops import (
        HASHNGRAM_ORACLE,
        doc_hashngram_classify,
    )

    from .conftest import assert_matches_oracle

    out = doc_hashngram_classify(spark, SF_DIR)
    assert_matches_oracle(out, duck, HASHNGRAM_ORACLE, "doc_hashngram_classify")
    n_classes = out.select("pred_class").distinct().count()
    assert n_classes >= 2


def test_hash_ngram_classify_matches_pure_python(spark):
    """From-the-definition differential for the fastText-style
    classifier: hashlib md5 buckets + explicit weight formula on a tiny
    hand corpus (incl. empty text, single token, repeated bigrams —
    multiplicity must count) vs the Catalyst fold."""
    import hashlib
    import re

    from incubator_beam_spark.dataops.inference import hash_ngram_classify

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the cat the cat the cat"),  # repeated bigrams
        (2, "solo"),
        (3, ""),
        (4, "Numbers 42 and 7 mix CASE"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.logit_0, r.logit_1, r.logit_2, r.pred_class)
        for r in hash_ngram_classify(sdf).collect()
    }

    def bucket(f):
        return int(hashlib.md5(f"ftx|{f}".encode()).hexdigest()[:8], 16) % 64

    want = {}
    for i, t in docs:
        ws = re.findall("[a-z0-9]+", t.lower())
        feats = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        logits = [
            3 * c - 2 + sum(((bucket(f) * 31 + c * 57) % 101) - 50 for f in feats)
            for c in range(3)
        ]
        pred = max(range(3), key=lambda c: (logits[c], -c))
        want[i] = (*logits, pred)
    assert got == want


def test_hash_ngram_classify_plan_no_exchange(spark):
    """The hashing trick keeps classifier inference a pure scan-side
    projection: no Exchange (shuffle) and no broadcast anywhere in the
    physical plan."""
    from incubator_beam_spark.queries.dataops import doc_hashngram_classify

    plan = (
        doc_hashngram_classify(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Broadcast" not in plan


def test_doc_ccnet_buckets_oracle(spark, duck):
    """Exact-oracle check for the CCNet perplexity-tier device
    (future-window gate): per-language ntile(3) tiers over the
    4dp-shared bigram-LM score hash-match, and every language in the
    fixture gets all three tiers."""
    from incubator_beam_spark.queries.dataops import (
        CCNET_BUCKETS_ORACLE,
        doc_ccnet_buckets,
    )

    from .conftest import assert_matches_oracle

    out = doc_ccnet_buckets(spark, SF_DIR)
    assert_matches_oracle(out, duck, CCNET_BUCKETS_ORACLE, "doc_ccnet_buckets")
    tiers = {
        (r.lang, r.tier): r.c
        for r in out.groupBy("lang", "tier").agg(F.count("*").alias("c")).collect()
    }
    langs = {l for l, _ in tiers}
    assert all((l, t) in tiers for l in langs for t in ("head", "middle", "tail"))


def test_perplexity_buckets_tier_semantics(spark):
    """head really is the best-scoring third within each language: on a
    hand corpus where doc 0 repeats one collocation (high bigram prob)
    and doc 2 is all-distinct word salad, head/tail land correctly and
    equal-count splitting holds."""
    from incubator_beam_spark.dataops.curation import perplexity_buckets

    docs = [
        (0, "alpha beta alpha beta alpha beta alpha beta", "en"),
        (1, "alpha beta gamma delta alpha beta epsilon zeta", "en"),
        (2, "one two three four five six seven eight nine", "en"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = {r.doc_id: r.tier for r in perplexity_buckets(sdf).collect()}
    assert got == {0: "head", 1: "middle", 2: "tail"}


def test_emb_knn_classify_oracle(spark, duck):
    """Exact-oracle check for the kNN label-transfer device
    (future-window gate), now on the IVF scale path: nprobe=2 probe
    cells -> top-10 within probed cells -> majority vote ->
    deterministic argmax, (query, pred_label, votes) hash-match."""
    from incubator_beam_spark.queries.dataops import (
        KNN_CLASSIFY_ORACLE,
        emb_knn_classify,
    )

    from .conftest import assert_matches_oracle

    out = emb_knn_classify(spark, SF_DIR)
    assert_matches_oracle(out, duck, KNN_CLASSIFY_ORACLE, "emb_knn_classify")
    assert out.select("pred_label").distinct().count() >= 2


def test_emb_knn_classify_plan_no_corpus_broadcast(spark):
    """The promoted kNN device must run the IVF neighbor stage, not the
    brute-force baseline: the corpus VECTORS are never under a
    BroadcastExchange (every broadcast subtree that reads the embedding
    column carries a vec_id range pushdown — the 8-row centroid set or
    the 10-row probe side), the only BNLJs are the two centroid
    crosses, and the search join is a cell equi-join (hash join with
    the corpus streaming)."""
    import contextlib
    import io
    import re

    from incubator_beam_spark.queries.dataops import emb_knn_classify

    df = emb_knn_classify(spark, SF_DIR)
    df.count()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # detail-section headers only (each node also appears in the sketch)
    n_bnlj = len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M))
    assert n_bnlj == 2, f"centroid crosses only, got {n_bnlj} BNLJs"
    assert "BroadcastHashJoin" in plan  # the cell equi-join
    # scan id -> (reads embedding column, has a vec_id range pushed)
    scans = {}
    for m in re.finditer(
        r"\((\d+)\) Scan parquet.*?PushedFilters: \[([^\]]*)\].*?"
        r"ReadSchema: (\S+)",
        plan,
        re.S,
    ):
        scans[m.group(1)] = (
            "embedding" in m.group(3),
            "LessThan(vec_id" in m.group(2),
        )
    # walk the tree sketch: scans inside each BroadcastExchange subtree
    tree = plan.split("\n\n")[0].splitlines()
    for i, line in enumerate(tree):
        bm = re.search(r"BroadcastExchange \((\d+)\)", line)
        if not bm:
            continue
        depth = len(line) - len(line.lstrip(" :+-"))
        for sub in tree[i + 1 :]:
            sdepth = len(sub) - len(sub.lstrip(" :+-"))
            if sdepth <= depth:
                break
            sm = re.search(r"Scan parquet\s+\((\d+)\)", sub)
            if sm:
                has_vec, filtered = scans[sm.group(1)]
                assert not has_vec or filtered, (
                    f"corpus vectors broadcast: scan ({sm.group(1)}) under "
                    f"BroadcastExchange ({bm.group(1)}) reads embedding "
                    "without a vec_id pushdown"
                )


def test_knn_classify_semantics(spark):
    """On two clean synthetic clusters the transferred label is the
    cluster's, votes are unanimous, and the vote tie-break picks the
    smaller label (query equidistant between clusters with k=2)."""
    from incubator_beam_spark.dataops.similarity import knn_classify

    rows = []
    # cluster A: label 7, vectors near (1, 0); cluster B: label 3, near (0, 1)
    for i in range(5):
        rows.append((i, [1.0, 0.001 * i], 7))
        rows.append((10 + i, [0.001 * i, 1.0], 3))
    # queries: 100 inside A, 101 inside B
    rows.append((100, [0.99, 0.01], 7))
    rows.append((101, [0.01, 0.99], 3))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    q = df.filter("vec_id >= 100")
    corpus = df.filter("vec_id < 100")
    got = {
        r.query_id: (r.pred_label, r.votes)
        for r in knn_classify(q, corpus, k=5).collect()
    }
    assert got == {100: (7, 5), 101: (3, 5)}
    # equidistant query, k=2: one vote each -> tie -> smaller label wins
    q2 = spark.createDataFrame(
        [(200, [1.0, 1.0], 0)], "vec_id long, embedding array<double>, label int"
    )
    two = spark.createDataFrame(
        [(0, [1.0, 0.0], 7), (1, [0.0, 1.0], 3)],
        "vec_id long, embedding array<double>, label int",
    )
    got2 = {r.query_id: r.pred_label for r in knn_classify(q2, two, k=2).collect()}
    assert got2 == {200: 3}


def test_doc_unigram_viterbi_oracle(spark, duck):
    """Exact-oracle check for the unigram-LM Viterbi device
    (future-window gate): the Catalyst-fold DP and the recursive-CTE
    replay agree on (cost, piece-count) for every document, and the
    corpus yields many distinct costs (the DP is exercised, not
    degenerate)."""
    from incubator_beam_spark.queries.dataops import (
        UNIGRAM_VITERBI_ORACLE,
        doc_unigram_viterbi,
    )

    from .conftest import assert_matches_oracle

    out = doc_unigram_viterbi(spark, SF_DIR)
    assert_matches_oracle(out, duck, UNIGRAM_VITERBI_ORACLE, "doc_unigram_viterbi")
    assert out.select("vit_cost").distinct().count() > 10


def test_unigram_viterbi_matches_pure_python_dp(spark):
    """From-the-definition differential: a plain-Python Viterbi over the
    identical vocab on hand-picked strings (empty, single char, exact
    vocab words, overlapping pieces where greedy longest-match is
    SUBOPTIMAL — 'the' at cost 3 must beat 'th'+'e' at 4+7) vs the
    Catalyst fold."""
    from incubator_beam_spark.dataops.bpe import (
        UNIGRAM_CHAR_COST,
        UNIGRAM_VOCAB,
        unigram_viterbi,
    )

    import re

    def norm(t):
        return " ".join(re.findall("[a-z0-9]+", t.lower()))[:24]

    def dp(t):
        s = norm(t)
        best = [0] + [None] * len(s)
        for i in range(1, len(s) + 1):
            cands = [best[i - 1] + UNIGRAM_CHAR_COST * 256 + 1]
            for p, c in UNIGRAM_VOCAB:
                k = len(p)
                if i >= k and s[i - k : i] == p:
                    cands.append(best[i - k] + c * 256 + 1)
            best[i] = min(cands)
        comb = best[len(s)]
        return (comb // 256, comb % 256)

    docs = [
        (0, ""),
        (1, "x"),
        (2, "the"),           # one piece, cost 3, beats th+e / t+h+e
        (3, "theE THE the"),  # normalization + repeats
        (4, "nation"),        # n + atio? vs na + tion: DP must pick n(10)+a?(8)... optimal
        (5, "zzzz qqqq"),     # all fallback chars + space piece
        (6, "the quick brown fox jumps over the lazy dog"),  # truncated at 24
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.vit_cost, r.vit_pieces)
        for r in unigram_viterbi(sdf).collect()
    }
    want = {i: dp(t) for i, t in docs}
    assert got == want
    # the collocation piece really wins: 'the' parses as ONE piece
    assert got[2] == (3, 1)
    # max_chars > 255 would overflow the 8-bit packed piece count: rejected
    import pytest as _pytest

    from incubator_beam_spark.queries.dataops import _unigram_viterbi_oracle

    with _pytest.raises(ValueError):
        unigram_viterbi(sdf, max_chars=256)
    with _pytest.raises(ValueError):
        _unigram_viterbi_oracle(max_chars=256)
    assert unigram_viterbi(sdf, max_chars=255) is not None  # boundary ok


def test_unigram_viterbi_plan_no_exchange(spark):
    """The whole DP is scan-side: no Exchange, no Broadcast, no Python
    in the physical plan."""
    from incubator_beam_spark.queries.dataops import doc_unigram_viterbi

    plan = (
        doc_unigram_viterbi(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Broadcast" not in plan
    assert "Python" not in plan


def test_hash_ngram_classify_seeded_random_differential(spark):
    """Classifier inference vs the pure-Python definition on
    seeded-random corpora (random vocab sizes, doc counts, lengths,
    mixed-case and numeric tokens, empty docs) — one batched Spark run
    per corpus, every logit and prediction must match."""
    import hashlib
    import random
    import re

    from incubator_beam_spark.dataops.inference import hash_ngram_classify

    def bucket(f):
        return int(hashlib.md5(f"ftx|{f}".encode()).hexdigest()[:8], 16) % 64

    rng = random.Random(777)
    for trial in range(5):
        vocab = [
            rng.choice(["tok", "TOK", "Word", "42", "x9"]) + str(j % 10)
            for j in range(rng.randint(2, 12))
        ]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20))))
            for i in range(rng.randint(2, 10))
        ]
        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.logit_0, r.logit_1, r.logit_2, r.pred_class)
            for r in hash_ngram_classify(sdf).collect()
        }
        want = {}
        for i, t in docs:
            ws = re.findall("[a-z0-9]+", t.lower())
            feats = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
            logits = [
                3 * c - 2
                + sum(((bucket(f) * 31 + c * 57) % 101) - 50 for f in feats)
                for c in range(3)
            ]
            pred = max(range(3), key=lambda c: (logits[c], -c))
            want[i] = (*logits, pred)
        assert got == want, (trial, docs)


def test_unigram_viterbi_seeded_random_differential(spark):
    """Viterbi DP vs a pure-Python DP on seeded-random strings built
    FROM the vocab pieces plus noise chars (so multi-piece overlaps are
    dense and the optimal parse is nontrivial), including strings that
    hit the 24-char truncation."""
    import random
    import re

    from incubator_beam_spark.dataops.bpe import (
        UNIGRAM_CHAR_COST,
        UNIGRAM_VOCAB,
        unigram_viterbi,
    )

    def dp(t):
        s = " ".join(re.findall("[a-z0-9]+", t.lower()))[:24]
        best = [0] + [None] * len(s)
        for i in range(1, len(s) + 1):
            cands = [best[i - 1] + UNIGRAM_CHAR_COST * 256 + 1]
            for p, c in UNIGRAM_VOCAB:
                k = len(p)
                if i >= k and s[i - k : i] == p:
                    cands.append(best[i - k] + c * 256 + 1)
            best[i] = min(cands)
        return (best[len(s)] // 256, best[len(s)] % 256)

    pieces = [p for p, _ in UNIGRAM_VOCAB] + ["z", "q", "7"]
    rng = random.Random(31337)
    for trial in range(5):
        docs = [
            (i, "".join(rng.choice(pieces) for _ in range(rng.randint(0, 18))))
            for i in range(rng.randint(3, 10))
        ]
        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.vit_cost, r.vit_pieces)
            for r in unigram_viterbi(sdf).collect()
        }
        want = {i: dp(t) for i, t in docs}
        assert got == want, (trial, docs)


def test_gif_codec_roundtrip_and_rejects():
    """The pure-byte GIF block walker: encode->parse roundtrip across
    the fixture space (87a/89a, palette sizes incl. none, interlace,
    multi-sub-block comments, GCE), and loud None on malformed
    streams."""
    from incubator_beam_spark.dataops.multimodal import (
        encode_gif_header,
        parse_gif_meta,
    )

    for w, h, iw, exp, inter, ver, com, gce in [
        (16, 12, 16, 1, False, "89a", b"", False),
        (640, 480, 633, None, True, "87a", b"", False),
        (1, 1, 1, 0, False, "89a", b"c" * 600, True),  # 3 comment sub-blocks
        (65535, 65535, 1, 7, True, "87a", b"x", False),
    ]:
        m = parse_gif_meta(
            encode_gif_header(w, h, img_width=iw, gct_exp=exp,
                              interlaced=inter, version=ver,
                              comment=com, gce=gce)
        )
        assert m == {
            "version": ver, "width": w, "height": h,
            "gct_entries": 0 if exp is None else 1 << (exp + 1),
            "img_width": iw, "img_height": h, "interlaced": inter,
        }
    good = encode_gif_header(10, 20, gct_exp=2, comment=b"abc")
    assert parse_gif_meta(b"NOTGIF" + good[6:]) is None
    assert parse_gif_meta(b"GIF88a" + good[6:]) is None  # bad version
    assert parse_gif_meta(good[:12]) is None             # truncated LSD
    assert parse_gif_meta(good[:20]) is None             # truncated palette
    assert parse_gif_meta(good[:-12]) is None            # truncated sub-blocks
    assert parse_gif_meta(b"GIF89a" + bytes(7) + b"\x3b") is None  # no image
    desync = bytearray(encode_gif_header(5, 5, gct_exp=None))
    desync[13] = 0x7F  # unknown introducer where 0x2c/0x21/0x3b must be
    assert parse_gif_meta(bytes(desync)) is None
    # gct_exp outside the 3-bit LSD field would desync palette size: rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        encode_gif_header(5, 5, gct_exp=8)
    with _pytest.raises(ValueError):
        encode_gif_header(5, 5, gct_exp=-1)


def test_mm_gif_meta_oracle(spark, duck):
    """Exact-oracle check for the GIF metadata device: the oracle
    predicts every parsed field arithmetically from doc_id, so a wrong
    palette skip / sub-block walk / little-endian read in the real
    parser fails the hash."""
    from incubator_beam_spark.queries.dataops import GIF_META_ORACLE, mm_gif_meta

    from .conftest import assert_matches_oracle

    out = mm_gif_meta(spark, SF_DIR)
    assert_matches_oracle(out, duck, GIF_META_ORACLE, "mm_gif_meta")


def test_doc_wordpiece_stats_oracle(spark, duck):
    """Exact-oracle check for the WordPiece device (future-window
    gate): greedy longest-match piece counts + [UNK] words hash-match
    the recursive-CTE replay, and the fixture produces a real mix of
    UNK counts."""
    from incubator_beam_spark.queries.dataops import (
        WORDPIECE_ORACLE,
        doc_wordpiece_stats,
    )

    from .conftest import assert_matches_oracle

    out = doc_wordpiece_stats(spark, SF_DIR)
    assert_matches_oracle(out, duck, WORDPIECE_ORACLE, "doc_wordpiece_stats")
    assert out.select("wp_unk").distinct().count() >= 3


def test_wordpiece_seeded_random_differential(spark):
    """WordPiece greedy walk vs the pure-Python definition on
    seeded-random words built from vocab pieces plus out-of-vocab
    chars (so mid-word UNKs, long-piece-beats-short choices, and the
    8-word cap are all exercised)."""
    import random
    import re

    from incubator_beam_spark.dataops.bpe import (
        WORDPIECE_CONT,
        WORDPIECE_START,
        wordpiece_stats,
    )

    def ref(t, max_words=8):
        ws = re.findall("[a-z0-9]+", t.lower())[:max_words]
        tot = unk = 0
        for w in ws:
            pos = n = 0
            bad = False
            while pos < len(w):
                vocab = WORDPIECE_START if pos == 0 else WORDPIECE_CONT
                ml = max(
                    (len(p) for p in vocab if w[pos : pos + len(p)] == p),
                    default=0,
                )
                if ml == 0:
                    n, bad = 1, True
                    break
                pos += ml
                n += 1
            tot += n
            unk += bad
        return (tot, unk)

    alphabet = list("abcdefghijklmnopqrstuvwxyz0123456789")
    rng = random.Random(90210)
    for trial in range(5):
        docs = []
        for i in range(rng.randint(3, 10)):
            words = []
            for _ in range(rng.randint(0, 12)):
                if rng.random() < 0.6:
                    words.append(
                        "".join(
                            rng.choice(WORDPIECE_START + WORDPIECE_CONT)
                            for _ in range(rng.randint(1, 4))
                        )
                    )
                else:
                    words.append(
                        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
                    )
            docs.append((i, " ".join(words)))
        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.wp_pieces, r.wp_unk)
            for r in wordpiece_stats(sdf).collect()
        }
        want = {i: ref(t) for i, t in docs}
        assert got == want, (trial, docs)


def test_wordpiece_plan_no_exchange(spark):
    """The greedy walk is scan-side: no Exchange, no Broadcast, no
    Python in the physical plan."""
    from incubator_beam_spark.queries.dataops import doc_wordpiece_stats

    plan = (
        doc_wordpiece_stats(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Broadcast" not in plan
    assert "Python" not in plan


def test_stream_hashngram_classify_oracle(spark, duck):
    """The classifier as a Structured Streaming query (future-window
    gate): the drained micro-batch output equals the batch gate's
    oracle exactly — stateless projection, so streaming adds no
    semantics to lose."""
    from incubator_beam_spark.queries.dataops import HASHNGRAM_ORACLE
    from incubator_beam_spark.queries.devices import stream_hashngram_classify

    from .conftest import assert_matches_oracle

    out = stream_hashngram_classify(spark, SF_DIR)
    assert_matches_oracle(out, duck, HASHNGRAM_ORACLE, "stream_hashngram_classify")


def test_codec_parsers_never_crash_fuzz():
    """All five pure-byte parsers (WAV/PNG/MP4/JPEG/GIF) are total
    functions over bytes: hypothesis feeds arbitrary blobs, random
    truncations/corruptions of VALID encodings (the nastiest inputs —
    mostly-well-formed prefixes), and each parser must return a dict or
    None, never raise."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from incubator_beam_spark.dataops.multimodal import (
        encode_gif_header,
        encode_jpeg_header,
        encode_mp4_header,
        encode_png_header,
        encode_wav_header,
        parse_gif_meta,
        parse_jpeg_meta,
        parse_mp4_meta,
        parse_png_meta,
        parse_wav_meta,
    )

    parsers = (
        parse_wav_meta,
        parse_png_meta,
        parse_mp4_meta,
        parse_jpeg_meta,
        parse_gif_meta,
    )
    seeds = (
        encode_wav_header(100, 8000),
        encode_png_header(32, 16),
        encode_mp4_header(1500),
        encode_jpeg_header(64, 48, comment=b"c" * 40),
        encode_gif_header(20, 10, gct_exp=2, comment=b"c" * 300, gce=True),
    )

    @settings(max_examples=300, deadline=None)
    @given(
        blob=st.binary(max_size=120),
        seed_idx=st.integers(0, len(seeds) - 1),
        cut=st.integers(0, 200),
        flip_at=st.integers(0, 200),
        flip_to=st.integers(0, 255),
    )
    def attack(blob, seed_idx, cut, flip_at, flip_to):
        for parser in parsers:
            r = parser(blob)
            assert r is None or isinstance(r, dict)
        mutated = bytearray(seeds[seed_idx][: max(1, cut)])
        if flip_at < len(mutated):
            mutated[flip_at] = flip_to
        for parser in parsers:
            r = parser(bytes(mutated))
            assert r is None or isinstance(r, dict)

    attack()


def test_doc_quality_ensemble_oracle(spark, duck):
    """Exact-oracle check for the quality-ensemble device
    (future-window gate): Gopher rules x classifier x perplexity tier
    compose into one verdict table that hash-matches the composed
    oracles, and both verdicts occur."""
    from incubator_beam_spark.queries.dataops import (
        QUALITY_ENSEMBLE_ORACLE,
        doc_quality_ensemble,
    )

    from .conftest import assert_matches_oracle

    out = doc_quality_ensemble(spark, SF_DIR)
    assert_matches_oracle(out, duck, QUALITY_ENSEMBLE_ORACLE, "doc_quality_ensemble")
    verdicts = {r.keep for r in out.select("keep").distinct().collect()}
    assert verdicts == {True, False}


def test_quality_ensemble_single_scan(spark):
    """The rules+classifier stage really is ONE scan: the ensemble's
    physical plan has exactly one parquet scan more than the tier
    stage alone — rules and classifier share a scan instead of
    self-joining two."""
    from incubator_beam_spark.dataops.curation import perplexity_buckets
    from incubator_beam_spark.queries.dataops import doc_quality_ensemble

    from incubator_beam_spark.catalog import table

    def scans(df):
        return (
            df._jdf.queryExecution().executedPlan().toString().count("Scan parquet")
        )

    tier_only = perplexity_buckets(table(spark, SF_DIR, "documents"))
    full = doc_quality_ensemble(spark, SF_DIR)
    assert scans(full) == scans(tier_only) + 1


def test_knn_classify_seeded_random_differential(spark):
    """kNN label transfer vs a pure-numpy reference on seeded-random
    embeddings (random dims, corpus sizes, label counts, k) — identical
    neighbor sets under the 6dp-rounding contract, identical votes and
    tie-breaks."""
    import numpy as np

    from incubator_beam_spark.dataops.similarity import knn_classify

    rng = np.random.RandomState(2024)
    for trial in range(4):
        dim = int(rng.randint(3, 8))
        n = int(rng.randint(12, 30))
        k = int(rng.randint(2, 6))
        n_labels = int(rng.randint(2, 5))
        vecs = rng.randn(n, dim).round(3)
        labels = rng.randint(0, n_labels, n)
        rows = [
            (i, [float(x) for x in vecs[i]], int(labels[i])) for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )
        q = df.filter("vec_id < 3")
        got = {
            r.query_id: (r.pred_label, r.votes)
            for r in knn_classify(q, df, k=k).collect()
        }
        want = {}
        for qi in range(3):
            sims = []
            for j in range(n):
                if j == qi:
                    continue
                cos = round(
                    float(vecs[qi] @ vecs[j])
                    / (np.linalg.norm(vecs[qi]) * np.linalg.norm(vecs[j])),
                    6,
                )
                sims.append((-cos, j))
            sims.sort()
            top = [j for _, j in sims[:k]]
            votes = {}
            for j in top:
                votes[int(labels[j])] = votes.get(int(labels[j]), 0) + 1
            best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            want[qi] = (best[0], best[1])
        assert got == want, (trial, dim, n, k)


def test_doc_rrf_hybrid_topk_oracle(spark, duck):
    """Exact-oracle check for the hybrid-retrieval fusion device
    (future-window gate): BM25 and cosine rankings fused by
    reciprocal rank hash-match the composed oracle, and the fused
    top-10 really mixes both sides (some docs carry only a lexical
    rank, some only a semantic one)."""
    from incubator_beam_spark.queries.dataops import (
        RRF_HYBRID_ORACLE,
        doc_rrf_hybrid_topk,
    )

    from .conftest import assert_matches_oracle

    out = doc_rrf_hybrid_topk(spark, SF_DIR)
    assert_matches_oracle(out, duck, RRF_HYBRID_ORACLE, "doc_rrf_hybrid_topk")
    rows = out.collect()
    assert any(r.lex_rank is None for r in rows)
    assert any(r.sem_rank is None for r in rows)


def test_rrf_fuse_semantics(spark):
    """RRF on hand rankings: a doc ranked well in BOTH lists beats a
    doc ranked best in only one; absent sides contribute zero; the
    fused tie breaks on id."""
    from incubator_beam_spark.dataops.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank long"
    )
    sem = spark.createDataFrame(
        [(2, 1), (4, 2), (3, 3)], "doc_id long, rank long"
    )
    got = {r.doc_id: (r.rrf_score, r.rank) for r in rrf_fuse(lex, sem).collect()}
    # doc 2: 1/62 + 1/61 wins over doc 1's single 1/61
    assert got[2][1] == 1
    assert round(1 / 62 + 1 / 61, 6) == got[2][0]
    assert got[1][0] == round(1 / 61, 6)
    # doc 3 appears in both at rank 3 -> 2/63 beats doc 1's 1/61
    assert got[3][1] == 2 and got[1][1] == 3 and got[4][1] == 4


def test_mm_image_ahash_dedup_oracle(spark, duck):
    """Exact-oracle check for the image average-hash dedup device
    (future-window gate): hashes over REAL decoded PNG bytes match the
    closed-form pooled/threshold/bit-order recomputation, and pattern
    groups genuinely merge (fewer distinct hashes than groups would
    suggest — the mod-200 wrap collides some thresholds, which the
    oracle must reproduce too)."""
    from incubator_beam_spark.queries.dataops import (
        IMAGE_AHASH_ORACLE,
        mm_image_ahash_dedup,
    )

    from .conftest import assert_matches_oracle

    out = mm_image_ahash_dedup(spark, SF_DIR)
    assert_matches_oracle(out, duck, IMAGE_AHASH_ORACLE, "mm_image_ahash_dedup")
    n_hashes = out.select("ahash_hi", "ahash_lo").distinct().count()
    assert 2 <= n_hashes <= 7


def test_average_hash_properties():
    """aHash unit semantics: block-cancelling noise leaves the hash
    bit-identical (the near-dup property the device is built on), a
    structural change flips it, non-poolable shapes raise, and the
    bit packing is exact on a hand image."""
    import pytest as _pytest

    from incubator_beam_spark.dataops.multimodal import average_hash

    base = bytes(
        ((r // 2) * 13 + (c // 2) * 5) % 200 for r in range(16) for c in range(16)
    )
    noisy = bytes(min(255, v + (i % 2)) for i, v in enumerate(base))
    assert average_hash(base, 16, 16) == average_hash(noisy, 16, 16)
    transposed = bytes(
        ((c // 2) * 13 + (r // 2) * 5) % 200 for r in range(16) for c in range(16)
    )
    # 13 vs 5 gradients swap -> different threshold pattern
    assert average_hash(transposed, 16, 16) != average_hash(base, 16, 16)
    with _pytest.raises(ValueError):
        average_hash(bytes(100), 10, 10)
    # hand image: 8x8 identity grid, top-left 32 cells bright
    hand = bytes(255 if (r * 8 + c) < 32 else 0 for r in range(8) for c in range(8))
    hi, lo = average_hash(hand, 8, 8)
    assert (hi, lo) == (0, 0xFFFFFFFF)


def test_mm_image_resize_oracle(spark, duck):
    """Exact-oracle check for the image resize device (future-window
    gate): encode -> box-downscale -> re-encode -> decode, with every
    pooled pixel recomputed in closed form by the oracle."""
    from incubator_beam_spark.queries.dataops import (
        IMAGE_RESIZE_ORACLE,
        mm_image_resize,
    )

    from .conftest import assert_matches_oracle

    out = mm_image_resize(spark, SF_DIR)
    assert_matches_oracle(out, duck, IMAGE_RESIZE_ORACLE, "mm_image_resize")


def test_resize_gray_box_properties():
    """Resize unit semantics: constant images stay constant at any
    divisible factor, factor 1 is identity, block means are exact
    (hand image), and non-divisible shapes raise."""
    import pytest as _pytest

    from incubator_beam_spark.dataops.multimodal import resize_gray_box

    flat = bytes([77]) * 144  # 12x12
    for f in (1, 2, 3, 4, 6):
        out, w, h = resize_gray_box(flat, 12, 12, f)
        assert (w, h) == (12 // f, 12 // f)
        assert set(out) == {77}
    px = bytes([0, 10, 20, 30])  # 2x2
    out, w, h = resize_gray_box(px, 2, 2, 2)
    assert (out, w, h) == (bytes([15]), 1, 1)
    assert resize_gray_box(px, 2, 2, 1)[0] == px
    with _pytest.raises(ValueError):
        resize_gray_box(px, 2, 2, 3)


def test_mm_audio_resample_oracle(spark, duck):
    """Exact-oracle check for the audio resample device (future-window
    gate): decode -> 2x decimate -> re-encode -> decode, kept-sample
    sum of squares recomputed in closed form by the oracle."""
    from incubator_beam_spark.queries.dataops import (
        AUDIO_RESAMPLE_ORACLE,
        mm_audio_resample,
    )

    from .conftest import assert_matches_oracle

    out = mm_audio_resample(spark, SF_DIR)
    assert_matches_oracle(out, duck, AUDIO_RESAMPLE_ORACLE, "mm_audio_resample")


def test_decimate_wav_properties():
    """Decimation unit semantics: output is a VALID WAV at
    rate//factor with every factor-th sample (offset 0), factor 1 is
    lossless, odd lengths round up, non-PCM/malformed inputs return
    None, and bad factors raise."""
    import struct

    import pytest as _pytest

    from incubator_beam_spark.dataops.multimodal import (
        decimate_wav,
        encode_wav_header,
        parse_wav_meta,
        wav_pcm_sumsq,
    )

    samples = [(j * 1000 - 16000) for j in range(33)]
    wav = encode_wav_header(33, 48000) + struct.pack("<33h", *samples)
    for f, want_n in ((1, 33), (2, 17), (3, 11), (4, 9)):
        out = decimate_wav(wav, f)
        m = parse_wav_meta(out)
        assert m["sample_rate"] == 48000 // f and m["n_frames"] == want_n
        n, ss = wav_pcm_sumsq(out)
        assert n == want_n
        assert ss == sum(s * s for s in samples[::f])
    assert decimate_wav(b"RIFFxxxxWAVE", 2) is None
    assert decimate_wav(b"nope", 2) is None
    # stereo (n_channels=2) is rejected: mono-only contract
    stereo = encode_wav_header(4, 8000, n_channels=2) + bytes(16)
    assert decimate_wav(stereo, 2) is None
    # non-PCM wFormatTag (3 = IEEE float) is rejected even if mono 16-bit
    ieee = bytearray(encode_wav_header(4, 8000) + bytes(8))
    struct.pack_into("<H", ieee, 20, 3)
    assert decimate_wav(bytes(ieee), 2) is None
    with _pytest.raises(ValueError):
        decimate_wav(wav, 0)


@pytest.mark.deep  # ~7 s out-of-window oracle re-check; contract drive covers it per round
def test_doc_minhash_incremental_oracle(spark, duck):
    """Incremental near-dup ingest against the persisted band-bucket
    index (future-window device): deterministic re-crawl variants
    (' rev' appended, ids offset 1e6) must find their corpus
    near-dups through the REOPENED parquet index alone, candidates
    verified with exact Jaccard — every (new_id, old_id, jaccard)
    pair hash-matches the end-to-end oracle replay."""
    from incubator_beam_spark.queries.dataops import (
        MINHASH_INCREMENTAL_ORACLE,
        doc_minhash_incremental,
    )

    from .conftest import assert_matches_oracle

    out = doc_minhash_incremental(spark, SF_DIR)
    assert out.count() > 0  # re-crawls genuinely match their originals
    assert_matches_oracle(
        out, duck, MINHASH_INCREMENTAL_ORACLE, "doc_minhash_incremental"
    )


def test_stream_ivf_index_maintain_oracle(spark, duck):
    """Streaming IVF index maintenance (future-window device):
    micro-batch scan-side assignment appended into cell-partitioned
    parquet, reopened cold — per-cell row counts + integer checksums
    equal the batch assignment exactly (streamed ingest cannot change
    a single cell)."""
    from incubator_beam_spark.queries.dataops import (
        STREAM_IVF_MAINTAIN_ORACLE,
        stream_ivf_index_maintain,
    )

    from .conftest import assert_matches_oracle

    out = stream_ivf_index_maintain(spark, SF_DIR)
    assert_matches_oracle(
        out, duck, STREAM_IVF_MAINTAIN_ORACLE, "stream_ivf_index_maintain"
    )


def test_emb_second_moments_oracle(spark, duck):
    """Exact moment matrix for embedding whitening (future-window
    device): e4-integer first moments (j=0) + upper-triangle second
    moments, 2,144 rows for d=64 — independent of partitioning and
    summation order, so the full table hash-matches."""
    from incubator_beam_spark.queries.dataops import (
        EMB_MOMENTS_ORACLE,
        emb_second_moments,
    )

    from .conftest import assert_matches_oracle

    out = emb_second_moments(spark, SF_DIR)
    assert out.count() == 64 * 65 // 2 + 64
    assert_matches_oracle(out, duck, EMB_MOMENTS_ORACLE, "emb_second_moments")


def test_emb_second_moments_plan_single_exchange(spark):
    """The Gram-matrix device must be the one-shuffle shape: per-task
    X^T X in a vectorized kernel (MapInArrow, no Generate fan-out, no
    join — the r11 rewrite), partial+final HashAggregate around exactly
    ONE exchange — the shuffle carries only the ≤ d(d+1)/2 + d
    map-side-combined (i, j) partials per task."""
    import contextlib
    import io
    import re

    from incubator_beam_spark.queries.dataops import emb_second_moments

    df = emb_second_moments(spark, SF_DIR)
    df.count()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, f"expected 1 shuffle, got {len(shuffles)}"
    assert "MapInArrow" in plan  # the per-task vectorized Gram kernel
    assert "Generate" not in plan  # r11: no d(d+3)/2-wide explode fan-out
    assert "Join" not in plan


@pytest.mark.deep  # ~13 s out-of-window re-check; stream_ann_serving_et is in-window
def test_stream_ann_serving_oracle(spark, duck):
    """Streaming ANN serving / continuous auto-labeling (r10-built
    device, r11 promotion — verdict r9 item 8): a fixed query batch
    re-probes the MAINTAINED cell-partitioned index after each of 4
    scripted ingest micro-batches; (n_indexed, query, pred_label,
    votes) must equal the batch IVF+vote replay over each accumulated
    prefix — index freshness is part of the oracle. Dtype-strict (the
    banking ritual's comparator)."""
    from incubator_beam_spark.queries.dataops import (
        STREAM_ANN_SERVING_ORACLE,
        stream_ann_serving,
    )

    from .conftest import assert_matches_oracle_strict

    out = stream_ann_serving(spark, SF_DIR)
    assert_matches_oracle_strict(
        out, duck, STREAM_ANN_SERVING_ORACLE, "stream_ann_serving"
    )


@pytest.mark.deep  # ~10 s out-of-window oracle re-check; contract drive covers it per round
def test_doc_minhash_ingest_loop_oracle(spark, duck):
    """The complete incremental-dedup ingest loop (r10-built device,
    r11 promotion): batch 1 probes the corpus index and writes its
    band keys back; batch 2 probes the GROWN index cold and must
    surface (2e6, 1e6) pairs against batch-1 docs — index freshness
    for dedup. Dtype-strict (the banking comparator); also pins that
    batch 2 found at least one batch-1 neighbor, so the write-back is
    load-bearing in the fixture."""
    from incubator_beam_spark.queries.dataops import (
        MINHASH_INGEST_LOOP_ORACLE,
        doc_minhash_ingest_loop,
    )

    from .conftest import assert_matches_oracle_strict

    out = doc_minhash_ingest_loop(spark, SF_DIR)
    rows = out.collect()
    assert any(
        r.batch == 2 and 1000000 <= r.old_id < 2000000 for r in rows
    ), "batch 2 found no batch-1 neighbors — the write-back is untested"
    assert_matches_oracle_strict(
        out, duck, MINHASH_INGEST_LOOP_ORACLE, "doc_minhash_ingest_loop"
    )


def test_flac_codec_unit():
    """The FLAC byte codec round-trips and rejects what it must: the
    64-bit 20|3|5|36 bit-pack, the mixed-endian Vorbis vendor length,
    padding accumulation, the last-block-flag stop, truncated blocks,
    and the spec-invalid loud paths (zero sample rate, >8 channels)."""
    import pytest

    from incubator_beam_spark.dataops.multimodal import (
        encode_flac_streaminfo,
        parse_flac_meta,
    )

    p = encode_flac_streaminfo(
        44100, 123456789, n_channels=2, bits=24, max_block=4000,
        vorbis_vendor=b"vendorX", padding=21,
    )
    m = parse_flac_meta(p)
    assert (m["sample_rate"], m["n_channels"], m["bits"]) == (44100, 2, 24)
    assert m["total_samples"] == 123456789
    assert (m["max_block"], m["n_blocks"]) == (4000, 3)
    assert (m["vendor_len"], m["padding_bytes"]) == (7, 21)
    # the walk stops at the last-block flag: trailing audio-frame bytes
    # after the prefix change nothing
    assert parse_flac_meta(p + b"\xffgarbage") == m
    # malformed framing -> None
    assert parse_flac_meta(b"OggS" + p[4:]) is None  # wrong magic
    assert parse_flac_meta(p[:20]) is None  # truncated STREAMINFO
    # truncated framing that happens to end ON a block boundary but never
    # set the last-metadata-block flag -> None too (ADVICE r10: the walk
    # falling off the end is malformed framing, not a parsed prefix)
    nf = bytearray(encode_flac_streaminfo(8000, 10))
    nf[4] &= 0x7F  # clear the last-block flag on the only block
    assert parse_flac_meta(bytes(nf)) is None
    # a non-STREAMINFO first block violates the spec -> None
    bad_first = b"fLaC" + bytes([0x81]) + (0).to_bytes(3, "big")
    assert parse_flac_meta(bad_first) is None
    # spec-invalid fields raise loudly
    with pytest.raises(ValueError, match="sample rate"):
        parse_flac_meta(encode_flac_streaminfo(0, 10))
    # 9 channels cannot round-trip (3-bit field); check the guard via a
    # hand-packed payload: channels bits = 0b111 encodes 8, valid — so
    # corrupt bits+rate instead to hit the zero-rate guard only
    m1 = parse_flac_meta(encode_flac_streaminfo(8, 0, n_channels=8, bits=32))
    assert (m1["n_channels"], m1["bits"], m1["total_samples"]) == (8, 32, 0)


def test_mm_flac_meta_oracle(spark, duck):
    """FLAC metadata device (r10-built, r11 promotion): synthesized
    STREAMINFO prefixes parsed back by the real codec must match the
    arithmetic-prediction oracle. Dtype-strict (the banking
    comparator)."""
    from incubator_beam_spark.queries.dataops import (
        FLAC_META_ORACLE,
        mm_flac_meta,
    )

    from .conftest import assert_matches_oracle_strict

    out = mm_flac_meta(spark, SF_DIR)
    assert_matches_oracle_strict(out, duck, FLAC_META_ORACLE, "mm_flac_meta")


def test_emb_ivf_cell_split_oracle(spark, duck):
    """IVF cell-split rebalance (r10-built device, r11 promotion):
    above-mean cells split around deterministic (min, max vec_id)
    seeds; (cell, subcell) counts and integer checksums must equal the
    oracle's replay of assignment, hot detection, seed choice, and
    split. Also pins that the fixture actually splits something (at
    least one subcell 1) and that cold cells stay whole."""
    from incubator_beam_spark.queries.dataops import (
        IVF_CELL_SPLIT_ORACLE,
        emb_ivf_cell_split,
    )

    from .conftest import assert_matches_oracle_strict

    out = emb_ivf_cell_split(spark, SF_DIR)
    rows = out.collect()
    assert any(r.subcell == 1 for r in rows), "no cell split in fixture"
    cells = {}
    for r in rows:
        cells.setdefault(r.cell, set()).add(r.subcell)
    assert any(subs == {0} for subs in cells.values()), "every cell split?!"
    assert_matches_oracle_strict(
        out, duck, IVF_CELL_SPLIT_ORACLE, "emb_ivf_cell_split"
    )


@pytest.mark.deep  # ~16 s out-of-window re-check; stream_minhash_ingest_et is in-window
def test_stream_minhash_ingest_oracle(spark, duck):
    """Streaming near-dup ingest (r10-built device, r11 promotion):
    three re-crawl micro-batches each probe the index of everything
    ingested before them and write their band keys back; the drained
    pairs must equal the per-prefix oracle replay. Also pins that the
    cross-batch freshness edges exist in the fixture: batch 2 matched
    batch-1 docs and batch 3 matched batch-2 docs. Dtype-strict."""
    from incubator_beam_spark.queries.dataops import (
        STREAM_MINHASH_INGEST_ORACLE,
        stream_minhash_ingest,
    )

    from .conftest import assert_matches_oracle_strict

    out = stream_minhash_ingest(spark, SF_DIR)
    rows = out.collect()
    assert any(
        r.new_id >= 2000000 and 1000000 <= r.old_id < 2000000 for r in rows
    ), "batch 2 found no batch-1 neighbors"
    assert any(
        r.new_id >= 3000000 and 2000000 <= r.old_id < 3000000 for r in rows
    ), "batch 3 found no batch-2 neighbors"
    assert not any(
        r.old_id >= r.new_id for r in rows
    ), "a pair with old ingested at/after new — freshness broken"
    assert_matches_oracle_strict(
        out, duck, STREAM_MINHASH_INGEST_ORACLE, "stream_minhash_ingest"
    )


def test_doc_html_extract_oracle(spark, duck):
    """HTML main-content extraction (r10-built device, r11 promotion):
    synthesized pages round-trip — the extractor must drop boilerplate
    blocks with their text and recover the original normalized text
    byte-exactly (md5-pinned), with title/link-count/paragraph stats
    matching the arithmetic oracle. Dtype-strict."""
    from incubator_beam_spark.queries.dataops import (
        HTML_EXTRACT_ORACLE,
        doc_html_extract,
    )

    from .conftest import assert_matches_oracle_strict

    out = doc_html_extract(spark, SF_DIR)
    assert_matches_oracle_strict(
        out, duck, HTML_EXTRACT_ORACLE, "doc_html_extract"
    )


def test_doc_crawl_funnel_honesty(spark, duck):
    """Funnel-count honesty (VERDICT r10 item 6): the crawl funnel's
    per-stage docs_in/docs_out must chain exactly, the injected
    near-dup re-crawls must be CAUGHT at the dedup leg (with their
    canonical base surviving), the injected 4-word stubs must be
    DROPPED at the quality leg, and the pack leg's invariant checksum
    must report green. Re-derives the survivor SETS with the same
    library calls to check membership the count rows cannot show."""
    from incubator_beam_spark.dataops.text import gopher_rules, html_main_content
    from incubator_beam_spark.queries.dataops import (
        CRAWL_FUNNEL_ORACLE,
        _synth_page,
        doc_crawl_funnel,
    )

    from .conftest import assert_matches_oracle_strict

    out = doc_crawl_funnel(spark, SF_DIR)
    rows = {r.stage: r for r in out.collect()}
    assert list(sorted(rows)) == [
        "1_crawl", "2_extract", "3_dedup", "4_quality", "5_pack"
    ]
    # the funnel chains: docs_in of each stage == docs_out of the prior
    assert rows["2_extract"].docs_in == rows["1_crawl"].docs_out
    assert rows["3_dedup"].docs_in == rows["2_extract"].docs_out
    assert rows["4_quality"].docs_in == rows["3_dedup"].docs_out
    assert rows["5_pack"].docs_in == rows["4_quality"].docs_out
    # extraction is 1:1; dedup and quality each actually removed docs
    assert rows["2_extract"].docs_out == rows["2_extract"].docs_in
    assert rows["3_dedup"].docs_out < rows["3_dedup"].docs_in
    assert rows["4_quality"].docs_out < rows["4_quality"].docs_in
    # pack conserves docs and tokens, and its invariants are green
    assert rows["5_pack"].docs_out == rows["4_quality"].docs_out
    assert rows["5_pack"].tokens_out == rows["4_quality"].tokens_out
    assert rows["5_pack"].checksum == rows["5_pack"].tokens_out != -1

    # membership honesty: rebuild the survivor sets with the library ops
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    base = d.select("doc_id", norm.alias("content"))
    dups = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(norm, F.lit(" latest revision of this page")).alias("content"),
    )
    stubs = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat(
            F.lit("page "), (F.col("doc_id") + 20_000_000).cast("string"),
            F.lit(" under construction"),
        ).alias("content"),
    )
    crawl = base.unionAll(dups).unionAll(stubs)
    ext = crawl.select(
        "doc_id",
        html_main_content(
            _synth_page(F.col("doc_id"), F.col("content"))
        ).alias("text"),
    ).persist()
    pairs = dedup.minhash_lsh_pairs(ext).collect()
    dropped = {r.id_b for r in pairs}
    caught_dups = {b for b in dropped if 10_000_000 <= b < 20_000_000}
    assert caught_dups, "no injected re-crawl was caught by the LSH bands"
    # the injected (base, base+1e7) pairs are what got them caught
    own_base_pairs = {
        r.id_b for r in pairs if r.id_a == r.id_b - 10_000_000
    }
    assert len(own_base_pairs) >= len(caught_dups) * 0.9, (
        "re-crawls were caught, but mostly not via their own base page"
    )
    # drop-the-higher-id rule: a base doc is dropped ONLY when it is
    # itself the higher id of a verified pair (natural near-dup
    # clusters collapse to their lowest id — correct funnel behavior)
    base_dropped = {b for b in dropped if b < 10_000_000}
    assert base_dropped <= {r.id_b for r in pairs if r.id_b < 10_000_000}
    surv = ext.join(
        spark.createDataFrame([(i,) for i in dropped] or [(-1,)], ["doc_id"]),
        "doc_id", "left_anti",
    )
    kept_ids = {
        r.doc_id
        for r in surv.filter(gopher_rules(F.col("text"))["keep"])
        .select("doc_id").collect()
    }
    assert not any(
        i >= 20_000_000 for i in kept_ids
    ), "a 4-word stub page survived the quality leg"
    assert len(kept_ids) == rows["4_quality"].docs_out
    # and the whole gate is dtype-strict green vs the replay oracle
    assert_matches_oracle_strict(out, duck, CRAWL_FUNNEL_ORACLE, "doc_crawl_funnel")


def test_stream_ann_serving_et_freshness(spark, duck):
    """Event-time ANN serving (r11-built device, r12 promotion): index
    visibility must follow the WATERMARK — n_indexed per probe wave
    equals the count of vectors whose event-time minute lies under
    that wave's watermark cut (minute < 360p), strictly growing to the
    full corpus, with one prediction row per (wave, answerable query).
    Dtype-strict vs the per-watermark-prefix replay oracle."""
    from incubator_beam_spark.queries.dataops import (
        STREAM_ANN_SERVING_ET_ORACLE,
        stream_ann_serving_et,
    )

    from .conftest import assert_matches_oracle_strict

    out = stream_ann_serving_et(spark, SF_DIR).persist()
    rows = out.collect()
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = e.count()
    minutes = [r[0] % 1440 for r in e.select("vec_id").collect()]
    expected_waves = [
        sum(1 for m in minutes if m < 360 * p)
        for p in range(1, 5)
        if any(360 * (p - 1) <= m < 360 * p for m in minutes)
    ]
    got_waves = sorted({r.n_indexed for r in rows})
    assert got_waves == sorted(set(expected_waves)), (
        f"watermark freshness cuts wrong: {got_waves} vs {expected_waves}"
    )
    assert max(got_waves) == n, "final wave must serve the full corpus"
    per_wave_q = {}
    for r in rows:
        key = (r.n_indexed, r.query_id)
        assert key not in per_wave_q, f"duplicate prediction for {key}"
        per_wave_q[key] = r
    assert_matches_oracle_strict(
        out, duck, STREAM_ANN_SERVING_ET_ORACLE, "stream_ann_serving_et"
    )


def test_length_histogram_plan_bounds_real_pack(spark, duck):
    """The length-histogram bin plan (r11-built device, r12 promotion)
    must actually BOUND a real FFD run: total bins used by
    pack_sequences sits in [bins_lb, 2*bins_lb] (any-fit guarantee),
    and the histogram's masses reconcile with the corpus. Dtype-strict
    vs the SQL replay."""
    from incubator_beam_spark.dataops.packing import pack_sequences
    from incubator_beam_spark.dataops.text import token_count
    from incubator_beam_spark.queries.dataops import (
        CRAWL_LENGTH_PLAN_ORACLE,
        doc_length_histogram_plan,
    )

    from .conftest import assert_matches_oracle_strict

    plan = doc_length_histogram_plan(spark, SF_DIR).persist()
    rows = plan.collect()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    total = sorted(rows, key=lambda r: r.tok_len)[0]  # smallest length row
    assert total.cum_docs == d.count(), "histogram loses documents"
    bins_lb = total.bins_lb
    packed = pack_sequences(
        d.select("doc_id", token_count(F.col("text")).alias("n_tokens")),
        budget=512,
        n_partitions=8,
    )
    n_bins = packed.select("pack_id").distinct().count()
    assert bins_lb <= n_bins <= 2 * bins_lb, (
        f"FFD used {n_bins} bins, plan bound [{bins_lb}, {2 * bins_lb}]"
    )
    assert_matches_oracle_strict(
        plan, duck, CRAWL_LENGTH_PLAN_ORACLE, "doc_length_histogram_plan"
    )


@pytest.mark.deep  # ~20 s multi-wave drain; the gate itself stays in the
# default tier via test_correctness (driver window) + the contract drive
def test_stream_minhash_ingest_et_freshness(spark, duck):
    """Event-time dedup ingest (r11-built device, r12 promotion): pair
    visibility must be an EVENT-TIME fact — a (new, old) pair with old
    a re-crawl exists only when old's quarter-day wave strictly
    precedes new's (write-back gated by the watermark), never within a
    wave, regardless of the out-of-order file delivery. Dtype-strict
    vs the minute-replay oracle."""
    from incubator_beam_spark.queries.dataops import (
        STREAM_MINHASH_INGEST_ET_ORACLE,
        stream_minhash_ingest_et,
    )

    from .conftest import assert_matches_oracle_strict

    out = stream_minhash_ingest_et(spark, SF_DIR).persist()
    rows = out.collect()
    assert rows, "no pairs at all — the ' rev' re-crawls must match corpus"
    wave = lambda i: (i % 1440) // 360
    for r in rows:
        assert r.new_id >= 1_000_000
        if r.old_id >= 1_000_000:  # recrawl-recrawl: strict wave order
            assert wave(r.old_id) < wave(r.new_id), (
                f"same-or-later-wave pair {r.old_id}->{r.new_id}: "
                "watermark gating leaked"
            )
    assert_matches_oracle_strict(
        out, duck, STREAM_MINHASH_INGEST_ET_ORACLE, "stream_minhash_ingest_et"
    )


@pytest.mark.deep  # ~21 s multi-wave drain; the gate itself stays in the
# default tier via test_correctness (driver window) + the contract drive
def test_stream_crawl_funnel_waves(spark, duck):
    """Streaming crawl funnel (r11-built device, r12 promotion): the
    per-wave funnel counts must reconcile — docs_in sums to the full
    injected crawl, wave 1 never drops a dup (no earlier memory),
    dedup memory GROWS (some later wave drops > 0), and kept + dropped
    never exceed docs_in. Dtype-strict vs the minute-replay oracle."""
    from incubator_beam_spark.queries.dataops import (
        STREAM_CRAWL_FUNNEL_ORACLE,
        stream_crawl_funnel,
    )

    from .conftest import assert_matches_oracle_strict

    out = stream_crawl_funnel(spark, SF_DIR).persist()
    rows = sorted(out.collect(), key=lambda r: r.wave)
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = d.count()
    n_crawl = n + d.filter("doc_id % 7 = 0").count() + d.filter(
        "doc_id % 11 = 0"
    ).count()
    assert sum(r.docs_in for r in rows) == n_crawl, "funnel loses pages"
    assert rows[0].wave == 1 and rows[0].dup_dropped == 0, (
        "wave 1 has no earlier memory to match against"
    )
    assert any(r.dup_dropped > 0 for r in rows[1:]), (
        "the growing dedup memory never caught an injected re-crawl"
    )
    for r in rows:
        assert r.kept + r.dup_dropped <= r.docs_in
    assert_matches_oracle_strict(
        out, duck, STREAM_CRAWL_FUNNEL_ORACLE, "stream_crawl_funnel"
    )


def test_html_main_content_case_insensitive_and_unclosed_contract(spark):
    """ADVICE r10 / round-11 review: the block-drop patterns are
    case-INSENSITIVE (<SCRIPT>/<Nav> drop WITH their text like
    lowercase), and the documented edge behaviors hold — an UNCLOSED
    script block leaks its text (the close-tag match finds no end, only
    the markup strips), and a nested same-tag block ends at the FIRST
    close tag."""
    from incubator_beam_spark.dataops.text import html_main_content

    rows = [
        (1, '<html><SCRIPT>var x=1;</SCRIPT><p>keep one</p>'
            '<Nav><a href="/">chrome</a></Nav></html>'),
        (2, '<html><STYLE>p{}</style><p>mixed case close</p></html>'),
        (3, '<html><script>leaky'),            # unclosed: text leaks
        (4, '<html><nav>a<nav>b</nav>c</nav><p>tail</p></html>'),
    ]
    df = spark.createDataFrame(rows, ["id", "html"])
    got = {
        r.id: r.t
        for r in df.select(
            "id", html_main_content(F.col("html")).alias("t")
        ).collect()
    }
    assert got[1] == "keep one"
    assert got[2] == "mixed case close"
    assert got[3] == "leaky"  # documented leak: unclosed block
    assert got[4] == "c tail"  # nested drop ends at FIRST close tag


def test_minhash_index_compact_preserves_content(spark, duck):
    """Index compaction (r11-built device, r12 promotion): the rewrite
    must change the FILE layout and nothing else — per-band key/doc
    counts and the content checksum come from the compacted artifact
    reopened cold, and the layout booleans must both be True (files
    strictly reduced, one file per band). Dtype-strict vs the
    from-scratch band replay."""
    from incubator_beam_spark.queries.dataops import (
        MINHASH_INDEX_COMPACT_ORACLE,
        doc_minhash_index_compact,
    )

    from .conftest import assert_matches_oracle_strict

    out = doc_minhash_index_compact(spark, SF_DIR).persist()
    rows = out.collect()
    assert len(rows) == 4  # 8 hashes / 2 rows per band
    assert all(r.compacted and r.one_file_per_band for r in rows)
    n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert all(r.n_keys == 3 * n and r.n_docs == 3 * n for r in rows), (
        "compaction lost or duplicated index rows"
    )
    assert_matches_oracle_strict(
        out, duck, MINHASH_INDEX_COMPACT_ORACLE, "doc_minhash_index_compact"
    )
