"""Verification drive: exercise the public package surface end-to-end."""
import filters_spark as fs
from filters_spark.session import get_spark
from filters_spark.core.spec import CompileError

spark = get_spark(master="local[4]", shuffle_partitions=4)

# 1. happy path: multi-column validate over a transcripts-shaped frame
df = spark.createDataFrame(
    [
        ("c1", 0, "user", "hello\r\nworld", None),
        ("c1", 1, "robot", "éclair  ", "search"),
        ("c2", 0, "assistant", None, "laser"),
    ],
    "conv_id string, turn_idx int, role string, text string, tool string",
)
out = fs.validate(
    df,
    {
        "text": fs.Required() | fs.Unicode() | fs.Strip() | fs.MaxLength(500),
        "role": fs.Choice(("system", "user", "assistant", "tool")),
        "tool": fs.Choice(("search", "code", "browser")),
        "turn_idx": fs.Min(0),
    },
)
for r in out.collect():
    print("ROW", r.asDict())

# 2. probe: unknown column
try:
    fs.validate(df, {"nope": fs.Required()})
except CompileError as e:
    print("PROBE unknown column ->", type(e).__name__, e)

# 3. probe: type-mismatched chain (length on int column)
try:
    fs.validate(df, {"turn_idx": fs.MaxLength(3)})
except CompileError as e:
    print("PROBE bad type ->", type(e).__name__, e)

# 4. probe: spec-class chaining without instantiation (reference parity)
chain = fs.Unicode | fs.MaxLength(5)
out2 = fs.validate(spark.createDataFrame([("toolong here",)], "text string"),
                   {"text": chain})
print("PROBE class chain ->", out2.collect()[0].asDict())

# 5. probe: bad config raises like the reference
try:
    fs.Len(3, min=1)
except ValueError as e:
    print("PROBE Len config ->", e)

# 6. plan inspection: single projection, no shuffle
plan = out._jdf.queryExecution().executedPlan().toString()
print("PLAN head:", plan.splitlines()[0:8])
print("HAS_EXCHANGE:", "Exchange" in plan)

# 7. engine surface: full suite over the synthetic transcripts + resume
import tempfile
from filters_spark.data.transcripts import transcripts, transcripts_baseline
from filters_spark.engine import ValidationSuite, run_resumable

tdf = transcripts(spark, n_convs=200)
base = transcripts_baseline(spark, n_convs=200)
suite = ValidationSuite(
    {
        "text": fs.Required() | fs.Unicode() | fs.Strip() | fs.MaxLength(2000),
        "role": fs.Choice(("system", "user", "assistant", "tool")),
        "tool": fs.Choice(("search", "code", "browser")),
    },
    n_buckets=8,
)
res = suite.run(tdf)
print("VERDICTS:")
for r in res.verdicts.orderBy("bucket").collect():
    print("  ", r.asDict())
print("DRIFT:", suite.drift(tdf, base))
print("TOP VIOLATION CODES:",
      res.violations.groupBy("key", "code").count().orderBy("count", ascending=False).limit(5).collect())
with tempfile.TemporaryDirectory() as d:
    part = run_resumable(tdf, suite, d, baseline=base, buckets_per_job=2, fail_after_buckets=2)
    print("RESUME partial:", part)
    fin = run_resumable(tdf, suite, d, baseline=base)
    print("RESUME final:", fin)
print("SUITE PASSED:", fin["passed"])
res.unpersist()
