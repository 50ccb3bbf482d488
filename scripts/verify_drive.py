"""Verification drive: exercise the engine through its public API on a live
Spark runtime, happy path + probes."""

import py_image_toolkit_spark as pits
from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.fixtures import pages_df
from py_image_toolkit_spark.plans.pipeline import extract
from py_image_toolkit_spark.session import build_session

print("package:", pits.__name__, pits.__version__)
spark = build_session("verify")
spark.sparkContext.setLogLevel("ERROR")

# happy path: 50 docs, default config
pages = pages_df(spark, 50)
res = extract(pages).cache()
n = res.count()
print("rows:", n, "(expect 100 = 50 urls x 2 rules)")
res.groupBy("success", "message").count().orderBy("message").show(truncate=60)
sample = res.filter("success and rrn is not null").select(
    "url", "rule", "document_title", "name", "rrn", "issue_date", "issuer"
).orderBy("url").limit(3)
sample.show(truncate=25)

# probe 1: garbage ratio string -> parse_ratio None fallback (original ratio)
res2 = extract(pages_df(spark, 10), ExtractConfig(ratio="garbage:-1"))
print("probe ratio-garbage rows:", res2.count())

# probe 2: unknown rule + unknown method -> center-fallback path, still 1 row/rule
res3 = extract(pages_df(spark, 10), ExtractConfig(rules=("mystery",), method="wat"))
print("probe unknown-rule rows:", res3.count(), "rules:",
      [r["rule"] for r in res3.select("rule").distinct().collect()])

# probe 3: all-junk input (every doc malformed) -> typed failures, no crash
junk = pages_df(spark, 300).filter("url like '%junk%' or html is null or length(html) < 70")
nj = junk.count()
rj = extract(junk)
rj.groupBy("success", "message").count().show(truncate=60)
print("probe junk input docs:", nj)

# probe 4: empty input table -> empty output, no crash
empty = pages_df(spark, 1).filter("1=0")
print("probe empty input rows:", extract(empty).count())
print("VERIFY-DONE")
