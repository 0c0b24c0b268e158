"""The fixture-table memo is scoped to one SparkSession: a sibling
session of the same application gets handles bound to itself."""


def test_read_table_memo_is_per_session(spark, sf_dir):
    from sdg_engine.tablecache import read_table

    path = f"{sf_dir}/nation.parquet"
    first = read_table(spark, path)
    assert first.sparkSession is spark
    assert read_table(spark, path) is first

    sibling = spark.newSession()
    own = read_table(sibling, path)
    assert own.sparkSession is sibling
    assert read_table(sibling, path) is own
    assert read_table(spark, path) is first
