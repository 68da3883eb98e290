"""End-to-end drive of siddhi_io_cdc_spark through public imports only."""
import os, shutil, sys, time

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
from pyspark.sql import SparkSession, functions as F

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
ok = []

def check(name, cond, detail=""):
    ok.append((name, bool(cond), detail))
    print(("PASS" if cond else "FAIL"), name, detail)

root = "/tmp/verify_r15"
shutil.rmtree(root, ignore_errors=True)
os.makedirs(root)

# ---- 1-3: streaming cdc-poll with gap-wait hold/release ----
from siddhi_io_cdc_spark import register_cdc_poll
register_cdc_poll(spark)
src = f"{root}/src"
spark.createDataFrame([(0, "seed")], "id long, v string").write.parquet(src)
q = (
    spark.readStream.format("cdc-poll")
    .option("path", src).option("pollingColumn", "id")
    .option("waitOnMissedRecord", "true")
    .load()
    .writeStream.format("memory").queryName("cap")
    .trigger(processingTime="200 milliseconds")
    .option("checkpointLocation", f"{root}/ckpt").start()
)
q.processAllAvailable()  # seed the offset at current max id
spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], "id long, v string") \
    .write.mode("append").parquet(src)
q.processAllAvailable()
got = {r.id for r in spark.sql("select id from cap").collect()}
check("gap hold", got == {1, 2}, f"sink={sorted(got)} (4 held past gap)")
spark.createDataFrame([(3, "c")], "id long, v string") \
    .write.mode("append").parquet(src)
q.processAllAvailable()
time.sleep(0.5); q.processAllAvailable()
got = {r.id for r in spark.sql("select id from cap").collect()}
check("gap release", got == {1, 2, 3, 4}, f"sink={sorted(got)}")
q.stop()

# ---- 4: batch synthetic_changelog -> flatten ----
from siddhi_io_cdc_spark.sources.envelope import synthetic_changelog
from siddhi_io_cdc_spark.operators.flatten import flatten
df = spark.createDataFrame(
    [(1, "x", "c"), (2, "y", "u"), (3, "z", "d")], "uid long, name string, op string"
)
env = synthetic_changelog(df, F.col("op"))
flat = flatten(env, operations=["insert", "update", "delete"])
rows = {r["operation"]: r for r in flat.collect()}
check("flatten insert", rows["insert"]["uid"] == 1 and rows["insert"]["before_uid"] == 0,
      f"after uid={rows['insert']['uid']} before_uid={rows['insert']['before_uid']}")
check("flatten update before_ image", rows["update"]["before_uid"] == 2)
check("flatten delete via before_",
      rows["delete"]["before_uid"] == 3 and rows["delete"]["uid"] == 0)

# ---- MOR drive: index, apply, probe==rebuild, fencing, fsck, snapshot isolation ----
import json, random
from siddhi_io_cdc_spark.functions.similarity import write_ivf_index, probe_ivf_index
from siddhi_io_cdc_spark.streaming.ivf_index import apply_changelog_ivf
from siddhi_io_cdc_spark.streaming.mor import (
    mor_take_writer, mor_compact, mor_fsck, mor_live, MorWriterFenced,
)
random.seed(7)
emb = spark.createDataFrame(
    [(i, [random.random() for _ in range(8)]) for i in range(200)],
    "vec_id long, embedding array<double>",
)
ivf_root = f"{root}/ivf"
write_ivf_index(emb, ivf_root, nlist=4)
delta = spark.createDataFrame(
    [("insert", i, [random.random() for _ in range(8)], i) for i in range(200, 240)],
    "operation string, vec_id long, embedding array<double>, ts_ms long",
)
apply_changelog_ivf(spark, ivf_root, delta, batch_id=1)
qvec = [random.random() for _ in range(8)]
served = probe_ivf_index(spark, ivf_root, qvec, k=5, nprobe=4).collect()
all_emb = emb.unionByName(delta.select("vec_id", "embedding"))
fresh_root = f"{root}/ivf_fresh"
write_ivf_index(all_emb, fresh_root, nlist=4)
rebuilt = probe_ivf_index(spark, fresh_root, qvec, k=5, nprobe=4).collect()
check("mor probe == rebuild",
      sorted(r.vec_id for r in served) == sorted(r.vec_id for r in rebuilt),
      f"served={sorted(r.vec_id for r in served)}")

e1 = mor_take_writer(spark, ivf_root)
e2 = mor_take_writer(spark, ivf_root)  # newer writer fences e1
try:
    mor_compact(spark, ivf_root, epoch=e1)
    check("stale-epoch compact fenced", False, "no exception")
except MorWriterFenced:
    check("stale-epoch compact fenced", True)
rep = mor_fsck(spark, ivf_root)
check("fsck clean", not rep["errors"], f"errors={rep['errors']}")

# reader snapshot isolation: bind a live plan, compact, then execute it
meta = json.load(open(os.path.join(ivf_root, "_mor.json")))
table = sorted(meta["tables"])[0] if "tables" in meta else "vectors"
old_plan = mor_live(spark, ivf_root, table)
n_before = old_plan.count()
mor_compact(spark, ivf_root, epoch=e2)
check("reader snapshot isolation", old_plan.count() == n_before,
      f"table={table} rows={n_before}")

# ---- 5: driver-contract smoke vs duckdb ----
import duckdb, __spark_entry__ as E
sf = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"create view {t} as select * from read_parquet('{sf}/{t}.parquet')")
oracles, qs = E.oracle_sql(), E.queries()
for name in ("rel_pricing_summary", "llm_dedup_exact"):
    sdf = qs[name](spark, sf).toPandas().sort_values(
        by=sorted(qs[name](spark, sf).columns)).reset_index(drop=True)
    odf = con.execute(oracles[name]).df().sort_values(
        by=sorted(con.execute(oracles[name]).df().columns)).reset_index(drop=True)
    same = len(sdf) == len(odf) and sorted(sdf.columns) == sorted(odf.columns)
    check(f"contract smoke {name}", same, f"rows {len(sdf)} vs {len(odf)}")

ent = E.entry(spark)
check("entry() returns rows", ent.count() >= 0 and len(ent.schema) > 0,
      f"{ent.count()} rows, {len(ent.schema)} cols")

bad = [n for n, c, _ in ok if not c]
print(f"\n{sum(c for _, c, _ in ok)}/{len(ok)} checks passed; failures: {bad}")
spark.stop()
sys.exit(1 if bad else 0)
