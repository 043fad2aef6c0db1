"""Focused tests for the round-11 optimization changes: subtree
materialization (materialize_once) and the mapInArrow Gram-matrix
kernel. The CEP ordering and frame-construction tests live in
test_cep.py."""

from pyspark.sql import functions as F

from incubator_beam_spark.dataops.dedup import materialize_once


def test_materialize_once_identity_and_streaming_passthrough(spark):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = materialize_once(df)
    assert sorted(r.x for r in out.collect()) == [2 * i for i in range(100)]
    # streaming frames must pass through unchanged (no checkpoint attempt)
    sdf = spark.readStream.format("rate").load()
    assert materialize_once(sdf) is sdf


def test_minhash_pairs_signature_materialized_once(spark):
    """The optimization's plan pin: the signature subtree is computed into
    stored blocks (ExistingRDD leaf) and the expensive minhash aggregate
    no longer appears in the main query plan at all — before r11 it was
    evaluated 4x (ReuseExchange cannot canonicalize HOF lambdas)."""
    from incubator_beam_spark.dataops.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(40)],
        "doc_id long, text string",
    )
    import contextlib
    import io

    df = minhash_lsh_pairs(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "ExistingRDD" in plan
    # the signature HOF (aggregate over the shingle md5 pairs) must not be
    # re-evaluated inside the pair query itself
    assert "aggregate(" not in plan.lower().replace("hashaggregate", "")


def test_gram_kernel_matches_explode_formulation(spark):
    """emb_second_moments' numpy X^T X kernel must be row-for-row equal to
    the old flatten-transform explode, including MIXED vector lengths
    (each length contributes pairs only up to its own dimension)."""
    rows = [
        ([0.11, -0.27, 0.05],),
        ([0.42, 0.0, -1.3],),
        ([0.9, 0.0001],),  # shorter vector
        ([-0.5, 0.25],),
    ]
    df = spark.createDataFrame(rows, "embedding array<double>")

    # the PRE-r11 explode formulation, verbatim, as the reference
    vq = "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(round(x * 10000) AS BIGINT))"
    pair_expr = """
      flatten(transform(sequence(1, size(vq)), i ->
        transform(concat(array(0), sequence(i, size(vq))), j ->
          struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
                 IF(j = 0, element_at(vq, i),
                    element_at(vq, i) * element_at(vq, j)) AS xy))))
    """
    ref = (
        df.selectExpr(f"{vq} AS vq")
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.i").alias("i"), F.col("p.j").alias("j"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p.xy").alias("sxy"))
        .collect()
    )

    from incubator_beam_spark.queries import dataops as qd

    # drive the registered implementation through a temp parquet dir
    import tempfile

    d = tempfile.mkdtemp(prefix="gram_probe_")
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    got = qd.emb_second_moments(spark, d).collect()
    assert sorted((r.i, r.j, r.n, r.sxy) for r in got) == sorted(
        (r.i, r.j, r.n, r.sxy) for r in ref
    )


def test_simhash_table_bit_identical_to_hof(spark):
    """The vectorized mapInArrow simhash must equal the column-expression
    simhash64 EXACTLY, including the edges: null text (null simhash),
    empty/whitespace text (empty token array -> all ``bits`` set, the
    2*0 >= 0 majority-tie rule), single-token docs, and heavy repeats."""
    from incubator_beam_spark.dataops.dedup import simhash64, simhash_table

    rows = [
        (0, "spark catalyst optimizes declarative dataframe plans"),
        (1, "spark catalyst optimizes declarative dataframe plans"),
        (2, None),
        (3, ""),
        (4, "   \t  "),
        (5, "token"),
        (6, "a a a a a a b"),
        (7, "x " * 500),
        (8, "Mixed CASE punct!!! 123 élève"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id", simhash64(F.col("text"), bits=32).alias("sh")
        ).collect()
    }
    got = {r.doc_id: r.sh for r in simhash_table(docs, bits=32).collect()}
    assert got == ref
    # the empty-token edge really is the all-bits value, not 0 or null
    assert got[3] == (1 << 32) - 1 and got[2] is None


def test_pq_encode_letbound_codes_unchanged(spark):
    """The let-bound argmin must produce identical codes (ties to the
    lowest centroid index, as array_position's first match guarantees)."""
    from incubator_beam_spark.dataops.pq import pq_codebook, pq_encode

    emb = spark.createDataFrame(
        [(i, [float(i % 3) * 0.1 + j * 0.01 for j in range(8)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cb = pq_codebook(emb, n_centroids=4, m=4)
    got = {r.vec_id: list(r.codes) for r in pq_encode(emb, cb).collect()}
    # brute-force reference in python over the same quantized ints
    import math

    qrows = {
        r.vec_id: [int(round(x * 10000)) for x in r.embedding]
        for r in emb.collect()
    }
    sub = 2
    for vid, vq in qrows.items():
        want = []
        for s in range(4):
            dists = [
                sum(
                    (vq[s * sub + d] - cent[d]) ** 2 for d in range(sub)
                )
                for cent in cb[s]
            ]
            want.append(dists.index(min(dists)))
        assert got[vid] == want, (vid, got[vid], want)
