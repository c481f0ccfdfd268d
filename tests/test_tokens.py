"""Token-sequence derivation invariants (FIXTURES.md §1)."""

from pyspark.sql import functions as F

from movement_spark.sources.tokens import token_sequences


def test_n_tok_matches_array_length(spark, sf_dir):
    df = token_sequences(spark, sf_dir)
    bad = df.where(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0


def test_shard_counts_per_doc(spark, sf_dir):
    df = token_sequences(spark, sf_dir, keep_did=True)
    per_doc = df.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        F.max("seq").alias("max_seq"),
        F.first(1 + F.col("did") % 4).alias("expected"))
    bad = per_doc.where(
        (F.col("n") != F.col("expected"))
        | (F.col("max_seq") != F.col("expected") - 1)).count()
    assert bad == 0


def test_derivation_is_deterministic(spark, sf_dir):
    a = token_sequences(spark, sf_dir).orderBy("doc_id", "seq").collect()
    b = token_sequences(spark, sf_dir).orderBy("doc_id", "seq").collect()
    assert a == b


def test_schema_matches_input_hint(spark, sf_dir):
    schema = dict(
        (f.name, f.dataType.simpleString())
        for f in token_sequences(spark, sf_dir).schema.fields)
    assert schema["doc_id"] == "string"
    assert schema["tokens"] == "array<int>"
    assert schema["n_tok"] == "int"
    assert schema["source"] == "string"
    assert schema["ts"] == "timestamp"


def test_token_cache_repersists_after_clear_cache(spark, sf_dir):
    """The memoized token table must notice that the session's cache
    dropped it: after clearCache() the next call persists it again,
    instead of handing out a frame every caller silently recomputes."""
    token_sequences(spark, sf_dir)
    spark.catalog.clearCache()
    token_sequences(spark, sf_dir)
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
