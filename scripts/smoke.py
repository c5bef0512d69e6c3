"""Dev smoke: tiny fixture set through the full pipeline."""
import sys

sys.path.insert(0, "/root/repo")

from kgpipe.session import get_spark
from kgpipe import fixtures
from kgpipe.pipeline import run_pipeline

spark = get_spark("smoke", master="local[8]")
spark.sparkContext.setLogLevel("ERROR")

fx = fixtures.full_fixture_set(spark, n_convs=30, n_entities=60)
t = fx["transcripts"]
t.cache()
print("turns:", t.count())
t.show(5, truncate=90)

res = run_pipeline(
    spark, t, fx["entity_kb"], fx["kb_args"], fx["mention_counts"],
    fx["wiki_summaries"], language="en",
)
m = res["mentions"].cache()
print("mentions:", m.count())
m.select("mention_id", "text", "start", "end", "marked_text").show(8, truncate=70)

linked = res["linked"].cache()
print("linked:", linked.count())
linked.select("mention_id", "genre_prediction").show(8, truncate=70)

enr = res["enriched"].cache()
print("enriched:", enr.count())
enr.select("mention_id", "link_qid", "accepted_lang", "wikidata_summary",
           "wikipedia_title", "wikipedia_summary").show(8, truncate=50)

cl = res["classified"].cache()
cl.select("mention_id", "pred_label", "pred_score").show(8)

tr = res["triples"].cache()
print("triples:", tr.count())
tr.groupBy("pred").count().show()
tr.show(12, truncate=80)
spark.stop()
