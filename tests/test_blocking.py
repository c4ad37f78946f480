"""Blocking: recall vs planted pairs, caps, salting (FIXTURES.md §7 skew
fixture: one hot language / hot repo)."""

import pytest
from pyspark.sql import functions as F

from mel_spark.operators import blocking
from mel_spark.pipeline import ERConfig, block_index_stage, embed_stage, ingest


@pytest.fixture(scope="module")
def skewed(spark):
    """80% of rows share one language; one repo owns half the rows; contents
    mostly identical within the hot group (mega-block generator)."""
    rows = []
    for i in range(400):
        lang = "en" if i % 5 else "zh"
        repo = "hot/repo" if i % 2 else f"org/r{i % 7}"
        text = "def f return value key node index batch shard merge" if i < 320 \
            else f"unique tokens {i} apple banana cherry date elderberry fig grape"
        rows.append((f"m{i:04d}", repo, lang, text))
    return spark.createDataFrame(rows, ["mention_id", "repo", "lang", "content"])


def test_exact_blocks_group_identical(spark, skewed):
    b = blocking.exact_content_blocks(skewed, "mention_id", "content")
    sizes = b.groupBy("block_key").count().orderBy(F.desc("count")).first()
    assert sizes["count"] == 320  # the hot identical content


def test_cap_blocks_bounds_fanout(spark, skewed):
    b = blocking.exact_content_blocks(skewed, "mention_id", "content")
    capped = blocking.cap_blocks(b, max_block_size=10)
    max_sz = capped.groupBy("block_key").count().agg(F.max("count")).first()[0]
    assert max_sz <= 10
    # singleton blocks must be dropped entirely
    assert capped.groupBy("block_key").count().filter("count < 2").count() == 0


def test_salting_splits_hot_blocks(spark, skewed):
    b = blocking.exact_content_blocks(skewed, "mention_id", "content")
    salted = blocking.salt_hot_blocks(b, salt_threshold=50, n_salts=8)
    sizes = salted.groupBy("block_key").count()
    assert sizes.agg(F.max("count")).first()[0] <= 320 / 8 * 2.5  # hash spread
    # cold blocks untouched (no '#salt' suffix)
    cold = salted.filter(~F.col("block_key").contains("#"))
    assert cold.count() > 0


def test_salting_decorrelates_across_key_families(spark):
    """The salt must depend on (block_key, member), not the member alone:
    a pair split apart in one hot block should co-occur in another hot block
    for a decent fraction of pairs — else every cluster whose blocks are all
    hot deterministically fragments (ADVICE r1)."""
    n = 200
    rows = [(f"m{i:04d}", k) for i in range(n) for k in ("hotA", "hotB")]
    blocks = spark.createDataFrame(rows, ["mention_id", "block_key"])
    salted = blocking.salt_hot_blocks(blocks, salt_threshold=50, n_salts=8)
    key_of = {
        (r["mention_id"], r["block_key"].split("#")[0]): r["block_key"]
        for r in salted.collect()
    }
    import itertools

    split_in_a = together_in_b = 0
    for x, y in itertools.combinations([f"m{i:04d}" for i in range(60)], 2):
        if key_of[(x, "hotA")] != key_of[(y, "hotA")]:
            split_in_a += 1
            together_in_b += key_of[(x, "hotB")] == key_of[(y, "hotB")]
    # with independent salts ≈ 1/8 of A-split pairs reunite in B; member-only
    # salts give exactly 0
    assert split_in_a > 0
    assert together_in_b / split_in_a > 0.05


def test_minhash_blocking_recall_on_planted_pairs(spark, tiny_tables):
    """≥99% of gold same-entity pairs of distinct contents must share ≥1
    key of the pipeline's raw block index (the ScaNN-tuning analogue:
    SURVEY.md §7.3 blocking recall)."""
    cfg = ERConfig()
    mentions = ingest(spark.createDataFrame(tiny_tables["repos"]))
    index = block_index_stage(embed_stage(mentions, cfg), mentions)
    cand = (
        index.alias("x")
        .join(index.alias("y"), "block_key")
        .select(F.col("x.mention_id").alias("csid_a"), F.col("y.mention_id").alias("csid_b"))
        .filter(F.col("csid_a") < F.col("csid_b"))
    )
    ref = spark.createDataFrame(tiny_tables["reference_clusters"]).join(
        mentions.select("mention_id", "csid"), "mention_id"
    )
    gold = (
        ref.alias("a")
        .join(ref.alias("b"), F.col("a.entity_id") == F.col("b.entity_id"))
        .select(F.col("a.csid").alias("csid_a"), F.col("b.csid").alias("csid_b"))
        .filter(F.col("csid_a") < F.col("csid_b"))
        .distinct()
    )
    n_gold = gold.count()
    n_found = gold.join(cand, ["csid_a", "csid_b"], "left_semi").count()
    assert n_found / n_gold >= 0.99, f"blocking recall {n_found}/{n_gold}"


def test_hyperplane_blocks_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    b1 = blocking.hyperplane_blocks(emb, "vec_id", "embedding", dim=64).collect()
    b2 = blocking.hyperplane_blocks(emb.repartition(5), "vec_id", "embedding", dim=64).collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))
