"""End-to-end: file-arrival → full catalog pipeline → MERGE sink,
incrementally across two arrivals (T1 + T3 + §3.1 + K7 in one loop).

This is the production shape: each micro-batch of newly-landed staged
products runs the whole 9-stage plan inside foreachBatch and upserts into
the master parquet target; the checkpoint guarantees the second run
processes ONLY the new files.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from restaurant_etl_code_spark.plans.pipeline import catalog_pipeline
from restaurant_etl_code_spark.sources.sinks import (
    merge_into_bucketed_parquet,
    read_bucketed,
)
from restaurant_etl_code_spark.streaming import file_arrival_stream

STAGED_SCHEMA = (
    "row_id int, product_name string, article_id string, brand string, "
    "category string, subcategory string, description string, price double, "
    "is_tax boolean, quantity int"
)


def _master(spark):
    return spark.createDataFrame(
        [("036000291452", "Corn Flakes", "MB-K", "MD-crunchy"),
         ("111111111117", "Oat Milk", "MB-O", "MD-smooth")],
        "upc_code string, name string, master_brand string, master_description string",
    )


def _existing(spark):
    return spark.createDataFrame(
        [], "article_id string, price double, tax_percentage double"
    )


def test_streaming_incremental_pipeline(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "products")
    master, existing = _master(spark), _existing(spark)
    batch_rows_seen = []

    def sink(batch_df, epoch_id):
        batch_rows_seen.append(batch_df.count())
        out = catalog_pipeline(
            batch_df, existing, master,
            precheck_keys=["article_id"], upc_col="article_id",
            name_col="product_name",
            master_cols={"brand": "master_brand", "description": "master_description"},
            coalesce_cols=["brand", "description"],
        )
        products = out["products"].select(
            "row_id", "product_name", "match_type",
            F.col("brand.name").alias("brand"), "description", "status",
        )
        merge_into_bucketed_parquet(
            batch_df.sparkSession, target, products, ["row_id"]
        )

    def run():
        stream = file_arrival_stream(
            spark, landing, spark.read.parquet(landing).schema
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch1 = [
        (1, "Corn Flakes", "036000291452", None, "Cereal", None, None, 4.99, False, 2),
        (2, "Oat Milk", "X123", "Brand-B", None, None, None, 3.49, True, 0),
        (3, "Mystery Snack", "X999", None, None, None, None, 1.99, False, 5),
    ]
    spark.createDataFrame(batch1, STAGED_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()

    got = {r["row_id"]: r for r in read_bucketed(spark, target).collect()}
    assert got[1]["match_type"] == "upc" and got[1]["description"] == "MD-crunchy"
    assert got[2]["match_type"] == "similarity" and got[2]["brand"] == "Brand-B"
    assert got[3]["match_type"] == "generated" and got[3]["brand"] == "Generic"
    assert got[3]["description"] == "Mystery Snack"  # U2 fallback row

    # second arrival: one new product + a restatement of row 3
    batch2 = [
        (4, "Chai Masala", "X555", None, None, None, None, 2.50, True, 1),
        (3, "Mystery Snack", "X999", "NowBranded", None, None, None, 1.99, False, 5),
    ]
    spark.createDataFrame(batch2, STAGED_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()

    got = {r["row_id"]: r for r in read_bucketed(spark, target).collect()}
    assert len(got) == 4
    assert got[4]["match_type"] == "generated"
    assert got[3]["brand"] == "NowBranded"      # MERGE updated, not duplicated
    # checkpoint admitted ONLY the new file on the second run
    assert batch_rows_seen == [3, 2]
