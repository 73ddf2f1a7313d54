#!/usr/bin/env python
"""Round-7 batch D/E scale probe.

Axes measured:
- bucketed join: shuffle bytes of the orders⋈customer equi-join read
  from BUCKETED tables vs plain parquet, at 1× and 4× rows (broadcast
  disabled so the comparison is exchange-vs-no-exchange, not
  broadcast-vs-shuffle). Expected: bucketed = 0 shuffle bytes at every
  scale; plain grows with the data.
- Kneser-Ney: wall time at 1× vs 4× docs. Expected ~linear (the bigram
  aggregate dominates; the KN algebra is vocabulary-sized).
- PNG decode: wall time at 1× vs 4× images. Expected ~linear (pure
  per-byte executor work, no shuffle anywhere).

Shuffle bytes come from the Spark UI REST API with a per-measurement
job group. Writes nothing to
the repo; results recorded in SCALING.md.

Usage: python tools/r12d_scale_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from politicamente_etl_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=30) as r:
        return json.loads(r.read())


def measure(spark, df, group: str) -> tuple[float, int]:
    """Run df.count() under a job group; return (sec, shuffle write B)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    df.count()
    dt = time.perf_counter() - t0
    sc.setJobGroup("idle", "idle")
    base = sc.uiWebUrl
    app_id = sc.applicationId
    stage_ids = set()
    for j in _get(base, f"applications/{app_id}/jobs"):
        if j.get("jobGroup") == group:
            stage_ids.update(j.get("stageIds", []))
    sw = 0
    for st in _get(base, f"applications/{app_id}/stages?status=complete"):
        if st["stageId"] in stage_ids:
            sw += st.get("shuffleWriteBytes", 0)
    return dt, sw


def mult_df(spark, path: str, mult: int, key_shift: str, shift_by: int):
    base = spark.read.parquet(path)
    out = base
    for i in range(1, mult):
        out = out.unionByName(
            base.withColumn(key_shift, F.col(key_shift) + shift_by * i)
        )
    return out


def probe_bucketed(spark, mult: int) -> dict:
    import tempfile
    import uuid

    o = mult_df(
        spark, f"{SF}/orders.parquet", mult, "o_custkey", 50_000_000
    ).select("o_custkey", "o_totalprice")
    c = mult_df(
        spark, f"{SF}/customer.parquet", mult, "c_custkey", 50_000_000
    ).select("c_custkey", "c_mktsegment")
    sfx = uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="bktprobe_")
    for df, key, name in ((o, "o_custkey", "o"), (c, "c_custkey", "c")):
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, name))
            .saveAsTable(f"probe_{name}_{sfx}_{mult}")
        )
    bo = spark.table(f"probe_o_{sfx}_{mult}")
    bc = spark.table(f"probe_c_{sfx}_{mult}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    t_b, sh_b = measure(
        spark,
        bo.join(bc, bo.o_custkey == bc.c_custkey),
        f"bkt_{mult}",
    )
    t_p, sh_p = measure(
        spark, o.join(c, o.o_custkey == c.c_custkey), f"plain_{mult}"
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    return {
        "mult": mult,
        "bucketed_sec": round(t_b, 2),
        "bucketed_shuffle_bytes": sh_b,
        "plain_sec": round(t_p, 2),
        "plain_shuffle_bytes": sh_p,
    }


def probe_kn(spark, mult: int) -> dict:
    from politicamente_etl_spark.operators.text import shingles_regex

    docs = mult_df(spark, f"{SF}/documents.parquet", mult, "doc_id", 10_000_000)
    pairs = docs.select(F.explode(shingles_regex("text", 2)).alias("bg")).select(
        F.split("bg", " ")[0].alias("w1"), F.split("bg", " ")[1].alias("w2")
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    t0 = time.perf_counter()
    n = c12.count()
    dt = time.perf_counter() - t0
    return {"mult": mult, "kn_bigram_agg_sec": round(dt, 2), "bigram_types": n}


def probe_png(spark, mult: int) -> dict:
    import pandas as pd

    from politicamente_etl_spark.operators.multimodal import (
        decode_image_stats,
        encode_png,
    )

    docs = mult_df(
        spark, f"{SF}/documents.parquet", mult, "doc_id", 10_000_000
    ).select("doc_id")

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        encode_png(1 + int(d) % 16, 1 + int(d) % 8, int(d) % 251)
                        for d in pdf["doc_id"]
                    ],
                }
            )

    t0 = time.perf_counter()
    n = decode_image_stats(
        docs.mapInPandas(build, "doc_id long, media binary")
    ).count()
    dt = time.perf_counter() - t0
    return {"mult": mult, "png_decode_sec": round(dt, 2), "images": n}


def main() -> None:
    spark = get_spark(
        app_name="r12d-scale-probe", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {"bucketed": [], "kn": [], "png": []}
    for mult in (1, 4):
        out["bucketed"].append(probe_bucketed(spark, mult))
        out["kn"].append(probe_kn(spark, mult))
        out["png"].append(probe_png(spark, mult))
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
