"""The faithful Map/Reduce plugin tier.

Honors the reference's generic plugin contract — user-supplied
``Map(bytes) -> [(key, value)]`` and ``Reduce(key, [values]) ->
value`` (reference mpWorker/worker.go:21-22) — as Arrow-batched
Pandas pipelines, NOT row-at-a-time UDFs:

    map     -> mapInPandas          (= A4, Map over a partition)
    shuffle -> repartition(R, key)  (= A5, hash partition; Spark's
               Murmur3 HashPartitioner vs the reference's FNV-32a —
               same contract: equal keys colocate,
               reference worker.go:59-63,142-151)
    sort    -> sortWithinPartitions (= A6, reference worker.go:171-177)
    reduce  -> applyInPandas        (= A8, the reduce the reference
               left as a stub, worker.go:207-209)

Deliberately NOT replicated: the '"key:value"' string wire format
that breaks on values containing ':' (reference worker.go:145-146) —
we use a real two-column schema.

Scale: both stages are Arrow-batched (10-100x over row UDFs); the
shuffle is Spark's sort-based exchange, which spills instead of the
reference's rewrite-whole-JSON-file-per-append pattern
(worker.go:153-192). At 100 TB the only user-tunable is R
(num_partitions), and AQE coalescing makes even that soft.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from mapreducego_spark.operators.util import scratch_dir

MapFn = Callable[[str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]

KV_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)
OUT_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("result", StringType())]
)


def map_reduce(
    df: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    input_col: str = "value",
    num_partitions: int | None = None,
) -> DataFrame:
    """Run a user Map/Reduce job over one string column.

    ``map_fn`` sees each record's string payload (the reference's
    ``[]byte`` chunk, worker.go:21) and yields (key, value) pairs;
    ``reduce_fn`` sees (key, all values for that key) exactly like
    the reference's intended ``ReduceFun`` (worker.go:22).

    Reduce execution: repartition(R, key) colocates each key
    (= A5's fnv%R bucketing), sortWithinPartitions makes equal keys
    contiguous (= A6's per-bucket sort — here load-bearing, not just
    contract parity), then ONE mapInPandas walks each partition's
    sorted stream calling ``reduce_fn`` per key run. That is R
    Python invocations total instead of one per distinct key: a
    per-key applyInPandas pays the Arrow/pandas round-trip |keys|
    times, which dominates wordcount-shaped jobs at scale (measured
    3.9s -> native-parity at sf0.1). Key runs spanning Arrow batch
    boundaries are merged before reducing, so the contract
    ``Reduce(key, ALL values)`` holds exactly.
    """

    def run_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            keys: list[str] = []
            vals: list[str] = []
            for payload in batch[input_col]:
                for k, v in map_fn(payload):
                    keys.append(k)
                    vals.append(v)
            yield pd.DataFrame({"key": keys, "value": vals})

    # No spread_scan before the Map stage: the mandatory
    # repartition-by-key below already redistributes the mapped
    # stream, and a second full exchange of the raw payload column
    # cost more than the map fan-out saved (driver-measured +21% on
    # mr_wordcount in round 2). On a real cluster the input arrives
    # pre-split across many files anyway (reference A2/A3 chunking is
    # Spark's own input splitting).
    mapped = (
        df.select(F.col(input_col).cast("string").alias(input_col))
        .mapInPandas(run_map, schema=KV_SCHEMA)
    )
    if num_partitions:
        mapped = mapped.repartition(num_partitions, "key")
    else:
        mapped = mapped.repartition("key")
    mapped = mapped.sortWithinPartitions("key")

    # Distinct no-pending sentinel: None itself is a legal key (see
    # dropna=False below), so it cannot double as "nothing pending".
    _NO_PENDING = object()

    def run_reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pend_key: object = _NO_PENDING
        pend_vals: list[str] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # C-speed grouping inside the batch; sorted input makes
            # each key one contiguous run. dropna=False: a map_fn may
            # legitimately emit key=None, and the Reduce(key, ALL
            # values) contract includes it (pandas drops NaN groups
            # by default, which would silently lose those pairs).
            grouped = pdf.groupby("key", sort=False, dropna=False)["value"].apply(list)
            items = list(grouped.items())
            if pend_key is not _NO_PENDING:
                if items and items[0][0] == pend_key:
                    items[0] = (pend_key, pend_vals + items[0][1])
                else:
                    items.insert(0, (pend_key, pend_vals))
            # Hold back the last run — it may continue in the next
            # Arrow batch of this partition.
            pend_key, pend_vals = items[-1]
            done = items[:-1]
            if done:
                yield pd.DataFrame(
                    {
                        "key": [k for k, _ in done],
                        "result": [reduce_fn(k, vs) for k, vs in done],
                    }
                )
        if pend_key is not _NO_PENDING:
            yield pd.DataFrame(
                {"key": [pend_key], "result": [reduce_fn(pend_key, pend_vals)]}
            )

    return mapped.mapInPandas(run_reduce, schema=OUT_SCHEMA)


# --- the reference's shipped example plugin, completed ------------------


def wordcount_map(text: str) -> Iterable[tuple[str, str]]:
    """Reference Map: emit (word, "1") per maximal letter run,
    lowercased (test/wordCount.go:14-27)."""
    import re

    for word in re.split("[^A-Za-z]+", text or ""):
        if word:
            yield word.lower(), "1"


def wordcount_reduce(key: str, values: list[str]) -> str:
    """Reference Reduce: occurrence count as string
    (test/wordCount.go:29-32)."""
    return str(len(values))


def sql_wordcount_udf(spark, sf_dir: str) -> DataFrame:
    """SQL surface + plugin registration (SURVEY §2 A11, reference
    mpClient/client.go:25-33): the wordcount Map plugin registered as
    a SQL-callable function via spark.udf.register and invoked from
    spark.sql over a registered view — the engine's analog of the
    reference client shipping a .so for workers to symbol-load
    (reference mpWorker/worker.go:77-98). Produces the exact same
    rows as the native `wordcount` query.

    Registered as a PANDAS (Arrow-batched) UDF: spark.udf.register
    accepts pandas_udf-decorated functions, so the SQL plugin
    contract keeps its spark.sql surface while execution stays
    vectorized — no row-at-a-time BatchEvalPython in the plan
    (test_scale_plans.py asserts ArrowEvalPython here).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType

    from mapreducego_spark.sources.catalog import load_table

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_sql")

    @pandas_udf(ArrayType(StringType()))
    def plugin_map_tokens(text: pd.Series) -> pd.Series:
        return text.map(lambda t: [k for k, _ in wordcount_map(t)])

    spark.udf.register("plugin_map_tokens", plugin_map_tokens)
    return spark.sql(
        """
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT explode(plugin_map_tokens(text)) AS word
              FROM documents_sql)
        GROUP BY word
        """
    )


def mr_wordcount(df: DataFrame, input_col: str = "text") -> DataFrame:
    """WordCount through the faithful plugin tier. Same result as the
    DataFrame-native functions.text.wordcount, exercised both ways so
    the plugin contract itself is oracle-checked."""
    counted = map_reduce(df, wordcount_map, wordcount_reduce, input_col=input_col)
    return counted.select(
        F.col("key").alias("word"), F.col("result").cast("long").alias("cnt")
    )


# --- end-to-end job runner (the reference's user workflow) --------------


def run_job(
    spark,
    input_path: str,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    output_dir: str,
    num_reducers: int = 8,
) -> None:
    """The reference's complete job lifecycle, files-in to files-out:
    read text input(s) -> Map -> shuffle into R buckets -> Reduce ->
    R JSON part files (one per reduce partition, the analog of the
    reference's per-reducer mr-out buckets; master.go schedules map
    tasks per input chunk then R reduce tasks — here Spark's
    scheduler owns both stages and the shuffle).

    A user of the reference switches by passing the same two plugin
    callables they compiled into a .so (wordcount_map/
    wordcount_reduce above are the reference's shipped example,
    completed). Differences that are upgrades, not drift: output goes
    through Spark's job committer (atomic commit, no partial output
    visible on failure — the reference appends to live files,
    worker.go:153-192), and input splitting is Spark's own (A2/A3).
    """
    text = spark.read.text(input_path)
    result = map_reduce(
        text,
        map_fn,
        reduce_fn,
        input_col="value",
        num_partitions=num_reducers,
    )
    result.write.mode("overwrite").json(output_dir)


def job_wordcount_files(spark, sf_dir: str) -> DataFrame:
    """Registry entry: the reference's COMPLETE job lifecycle,
    oracle-checked files-in to files-out. Stages documents.text as
    plain text part files (the reference's input format —
    mpMaster/master.go schedules map tasks per input file chunk),
    runs run_job with the reference's shipped wordcount plugins, and
    reads the R JSON bucket files back as the result. Line-splitting
    on the staging write cannot change the answer: the tokenizer
    treats newlines as delimiters anyway. Shares the wordcount
    oracle. Fresh temp in/out per call, cleaned at exit (same
    harness convention as the stream-sink entries)."""
    import os

    from mapreducego_spark.sources.catalog import load_table

    workdir = scratch_dir("job_wordcount_")
    inp = os.path.join(workdir, "in")
    out = os.path.join(workdir, "out")
    load_table(spark, sf_dir, "documents").select(
        F.coalesce(F.col("text"), F.lit("")).alias("text")
    ).write.text(inp)
    run_job(spark, inp, wordcount_map, wordcount_reduce, out)
    return spark.read.json(out).select(
        F.col("key").alias("word"), F.col("result").cast("long").alias("cnt")
    )


def udaf_revenue_cents(spark, sf_dir: str) -> DataFrame:
    """Registry entry: the custom AGGREGATE plugin surface — a pandas
    GROUPED_AGG UDAF (Arrow-batched, partial-aggregated by Spark)
    used inside a normal groupBy. This is the aggregate analog of the
    Map/Reduce plugin contract: user Python owns the per-group math,
    the engine owns shuffle/combine, and unlike the reference's
    Reduce stub the result is driver-checkable.

    The semantic is exact by construction so the DuckDB oracle can
    hash-match it: revenue in integer cents via floor(price*100)
    (floor is a pure IEEE op — identical across engines and
    summation orders, where a float sum or round-half-even would
    drift)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from mapreducego_spark.sources.catalog import load_table

    @pandas_udf("long")
    def revenue_cents(v: pd.Series) -> int:  # GROUPED_AGG by signature
        return int(np.floor(v.to_numpy() * 100.0).sum())

    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(revenue_cents("o_totalprice").alias("revenue_cents"))
        .orderBy("o_orderstatus")
    )


def udtf_sentences(spark, sf_dir: str) -> DataFrame:
    """Python USER-DEFINED TABLE FUNCTION (Spark 4's UDTF surface —
    the set-returning plugin slot that completes the UDF tier:
    scalar/pandas UDFs, mapInPandas, applyInPandas, grouped-agg
    UDAF, and now one-row-to-many-rows table functions usable from
    SQL as a lateral source). The UDTF splits each document into
    sentences (deterministic [.!?]+ boundaries) and emits one
    (doc_id, sentence_idx, sentence) row per non-empty fragment —
    the per-sentence grain LLM-corpus filters and aligners work at.

    The splitting itself could be done engine-side (explode over
    regexp split — which is exactly what the DuckDB oracle does, so
    the comparison proves the UDTF plumbing is value-faithful);
    the entry exists to pin the UDTF register/invoke path, eval
    semantics, and schema contract. Scale: UDTFs stream row
    batches through Python workers like any Python UDF — keep them
    off the hot path unless the logic genuinely needs Python."""
    import re

    from pyspark.sql.functions import udtf

    from mapreducego_spark.sources.catalog import load_table

    # useArrow: Spark 4's arrow-optimized UDTF path — the plan shows
    # ArrowEvalPythonUDTF (batched) instead of row-at-a-time
    # BatchEvalPythonUDTF, the same upgrade pandas_udf gives scalar UDFs
    @udtf(returnType="sentence_idx: long, sentence: string", useArrow=True)
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            idx = 0
            for frag in re.split(r"[.!?]+", text):
                # strip SPACES only: the DuckDB oracle trims with
                # trim(x), which is space-only — Python's bare
                # strip() also eats tabs/newlines and would diverge
                # on text with whitespace at sentence boundaries
                frag = frag.strip(" ")
                if frag:
                    yield idx, frag
                    idx += 1

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__udtf_docs"
    )
    return spark.sql(
        """
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
               s.sentence_idx, s.sentence
        FROM __udtf_docs d,
             LATERAL split_sentences(d.text) s
        ORDER BY doc_id, sentence_idx
        """
    )
