"""Round-2 hardening tests: the LSH bucket-size cap (mega-bucket
guard) and planted-duplicate recall measurements that pin the
NUM_PERM / N_PLANES parameter choices by measurement rather than
docstring."""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.functions import dedup as d
from udacity_dsnd_projects_spark.functions import similarity as sim
from udacity_dsnd_projects_spark.sources.catalog import load_table

MEGA = 300  # > MAX_BUCKET_SIZE (256)


def _mega_corpus(spark):
    """MEGA docs with identical text (one mega-bucket per band) plus a
    control pair of identical docs that must still be found."""
    mega_text = "the quick brown fox jumps over the lazy dog again and again"
    ctrl_text = "completely different control sentence about spark shuffle planning"
    rows = [(i, mega_text) for i in range(MEGA)]
    rows += [(1000, ctrl_text), (1001, ctrl_text)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_mega_bucket_dropped_control_pair_survives(spark):
    docs = _mega_corpus(spark)
    pairs = d.lsh_pairs_for(docs).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    # the 300-member bucket would expand ~45k pairs per band; the cap
    # must drop it entirely...
    assert all(a >= 1000 for a, _ in found), f"mega-bucket pairs leaked: {found}"
    # ...while the size-2 control bucket still yields its pair
    assert (1000, 1001) in found
    # and the accounting face reports exactly the dropped buckets:
    # 4 minhash bands × 1 hyper-common key, each with MEGA members
    over = d.oversize_buckets(d.minhash_bands_for(docs)).collect()
    assert sorted((r.band, r.n_members) for r in over) == [(b, MEGA) for b in range(4)]


def test_mega_bucket_single_shuffle_plan(spark):
    """The cap's window count must reuse the groupBy's exchange — the
    guard may not add a second (band, key) shuffle to the LSH path.
    (The full plan keeps its other exchanges: the explicit CPU
    repartition in _shingled_docs and the final distinct().)"""
    import re

    docs = _mega_corpus(spark)
    plan = d.lsh_pairs_for(docs)._jdf.queryExecution().executedPlan().toString()
    band_exchanges = re.findall(r"Exchange hashpartitioning\(band#\d+", plan)
    assert len(band_exchanges) == 1, plan


def test_minhash_lsh_recall_on_planted_near_dups(spark, sf_dir):
    """Plant a near-duplicate of every 5th document (one middle token
    replaced) and measure LSH recall on long docs. Pins NUM_PERM=16 /
    4×4 banding: J≈0.9+ variants must collide on ≥1 band nearly
    always."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 == 0)
    toks = F.split(F.col("text"), r"\s+")
    n = F.size(toks)
    half = (n / 2).cast("int")
    mutated = F.concat_ws(
        " ",
        F.concat(
            F.slice(toks, 1, half),
            F.array(F.lit("xqzyvariant")),
            F.slice(toks, half + 2, n),
        ),
    )
    variants = base.select((F.col("doc_id") + 5_000_000).alias("doc_id"), mutated.alias("text"))
    planted = docs.unionByName(variants)
    pairs = {(r.doc_a, r.doc_b) for r in d.lsh_pairs_for(planted).collect()}
    # recall over docs long enough that one swapped token keeps J high
    long_ids = [
        r.doc_id
        for r in base.filter(F.size(F.split(F.col("text"), r"\s+")) >= 30).collect()
    ]
    assert len(long_ids) >= 20, "corpus too small for a recall measurement"
    hits = sum(1 for i in long_ids if (i, i + 5_000_000) in pairs)
    recall = hits / len(long_ids)
    assert recall >= 0.8, f"minhash LSH recall {recall:.2f} on planted near-dups"


def test_embedding_lsh_recall_on_planted_dups(spark, sf_dir):
    """Exact duplicate vectors must land in the same hyperplane bucket
    (recall 1.0); small deterministic perturbations should mostly
    survive bucketing. Pins N_PLANES=6."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    base = emb.filter(F.col("vec_id") % 7 == 0)
    exact = base.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "v")
    noised = base.select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.transform("v", lambda x: x * 1.02 + 0.003).alias("v"),
    )
    planted = emb.unionByName(exact).unionByName(noised)
    pairs = {(r.vec_a, r.vec_b) for r in sim.near_dup_pairs_for(planted).collect()}
    ids = [r.vec_id for r in base.collect()]
    assert len(ids) >= 20
    exact_recall = sum(1 for i in ids if (i, i + 1_000_000) in pairs) / len(ids)
    noise_recall = sum(1 for i in ids if (i, i + 2_000_000) in pairs) / len(ids)
    assert exact_recall == 1.0, f"identical vectors missed: {exact_recall:.2f}"
    assert noise_recall >= 0.6, f"perturbed-vector recall {noise_recall:.2f}"


def test_vectorized_minhash_equals_jvm(spark, sf_dir):
    """The numpy MinHash kernel on the LSH hot path must be
    bit-identical to the JVM expression face that the oracle checks."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    a = {r["doc_id"]: list(r["mh"]) for r in d.signatures_for(docs).collect()}
    b = {r["doc_id"]: list(r["mh"]) for r in d.signatures_vectorized(docs).collect()}
    assert a == b


def test_stop_shingle_capped_in_jaccard_index(spark):
    """A 3-gram shared by >SHINGLE_DF_CAP docs must not create join
    candidates (m^2 blowup) nor count toward Jaccard, while docs
    sharing RARE shingles still pair up."""
    common = "alpha beta gamma"  # shared stop-shingle across all docs
    rows = [(i, f"{common} unique{i}a unique{i}b unique{i}c") for i in range(150)]
    # one genuine near-dup pair sharing rare shingles
    rows += [(900, "red green blue cyan magenta yellow"),
             (901, "red green blue cyan magenta teal")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.doc_a, r.doc_b): r.jaccard for r in d.jaccard_pairs_for(docs).collect()}
    assert all(a >= 900 for a, _ in got), f"stop-shingle pairs leaked: {got}"
    assert (900, 901) in got
    # 6 toks -> 4 shingles each, 3 shared rare shingles: J = 3/(4+4-3)
    assert abs(got[(900, 901)] - 0.6) < 1e-6


def test_vectorized_shingles_equal_jvm_on_adversarial_text(spark):
    """Property-style check of the shared numpy shingle kernel against
    the JVM face on text the synthetic corpus never produces:
    non-ASCII code points (> U+00FF), repeated tokens, single-char
    tokens, long tokens, mixed whitespace."""
    rows = [
        (1, "héllo wörld ünïcode tökens ärë fün"),
        (2, "中文 分词 测试 中文 分词"),
        (3, "a b c d e f g"),
        (4, "the the the the the"),
        (5, "supercalifragilisticexpialidocious antidisestablishmentarianism floccinaucinihilipilification"),
        (6, "  spaced   out\ttokens \n everywhere  "),
        (7, "mix中en gлish日 tокens好 here中"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["doc_id"]: list(r["mh"]) for r in d.signatures_for(docs).collect()}
    b = {r["doc_id"]: list(r["mh"]) for r in d.signatures_vectorized(docs).collect()}
    assert a == b
    fa = {r["doc_id"]: r["simhash"] for r in _jvm_simhash(docs).collect()}
    fb = {r["doc_id"]: r["simhash"] for r in d.simhash_vectorized(docs).collect()}
    assert fa == fb


def test_fused_signature_kernel_equals_single_family_kernels(spark, sf_dir):
    """The fused (mh, simhash) kernel dedup_method_agreement shares one
    corpus pass through must be bit-identical to BOTH single-family
    kernels — on the corpus and on adversarial text (non-ASCII,
    repeats, single-char and long tokens)."""
    corpora = [
        load_table(spark, "documents", sf_dir).select("doc_id", "text"),
        spark.createDataFrame(
            [
                (1, "héllo wörld ünïcode tökens ärë fün"),
                (2, "中文 分词 测试 中文 分词"),
                (3, "a b c d e f g"),
                (4, "the the the the the"),
                (5, "  spaced   out\ttokens \n everywhere  "),
            ],
            ["doc_id", "text"],
        ),
    ]
    for docs in corpora:
        fused = {
            r["doc_id"]: (list(r["mh"]), r["simhash"])
            for r in d.signatures_and_simhash_vectorized(docs).collect()
        }
        mh = {
            r["doc_id"]: list(r["mh"])
            for r in d.signatures_vectorized(docs).collect()
        }
        fp = {
            r["doc_id"]: r["simhash"]
            for r in d.simhash_vectorized(docs).collect()
        }
        assert {k: v[0] for k, v in fused.items()} == mh
        assert {k: v[1] for k, v in fused.items()} == fp


def _jvm_simhash(docs):
    """JVM simhash over an arbitrary frame (the registered face is
    table-bound)."""
    from pyspark.sql import functions as F2

    sh = d._shingled_docs(docs)

    def bit_vote(j):
        vote = F2.aggregate(
            F2.col("sh"),
            F2.lit(0).cast("long"),
            lambda acc, h: acc
            + F2.when(F2.shiftright(h, j).bitwiseAND(F2.lit(1)) == 1, 1).otherwise(-1),
        )
        return F2.when(vote > 0, F2.lit(1).cast("long")).otherwise(F2.lit(0).cast("long"))

    bits = [bit_vote(j) for j in range(d.SIMHASH_BITS)]
    fp = bits[0]
    for j in range(1, d.SIMHASH_BITS):
        fp = fp + F2.shiftleft(bits[j], j)
    return sh.select("doc_id", fp.alias("simhash"))

