"""Declared StructTypes for every pipeline IR (SURVEY.md §1.3: all schemas
are explicit; the only dynamic artifact is the label/type inventory)."""

from pyspark.sql import types as T

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

SENTENCES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_id", T.LongType(), False),
        T.StructField("sent_start", T.IntegerType(), False),
        T.StructField("sent_end", T.IntegerType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
        T.StructField("tok_starts", T.ArrayType(T.IntegerType()), False),
        T.StructField("tok_ends", T.ArrayType(T.IntegerType()), False),
    ]
)

TAGGED_SENTENCES = T.StructType(
    SENTENCES.fields + [T.StructField("labels", T.ArrayType(T.StringType()), False)]
)

MENTIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_id", T.LongType(), False),
        T.StructField("mention_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("type", T.StringType(), False),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("subj_id", T.LongType(), True),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_id", T.LongType(), True),
        T.StructField("subj_text", T.StringType(), False),
        T.StructField("obj_text", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("n_evidence", T.LongType(), False),
    ]
)

FEATURES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_id", T.LongType(), False),
        T.StructField("chunk_id", T.IntegerType(), False),
        T.StructField("input_tokens", T.ArrayType(T.StringType()), False),
        T.StructField("input_ids", T.ArrayType(T.IntegerType()), False),
        T.StructField("attention_mask", T.ArrayType(T.IntegerType()), False),
        T.StructField("token_type_ids", T.ArrayType(T.IntegerType()), False),
        T.StructField("label_ids", T.ArrayType(T.IntegerType()), False),
        T.StructField("guards", T.ArrayType(T.IntegerType()), False),
    ]
)

# all nullable: the parquet layout manifests have always had (resumes append)
STAGE_MANIFEST = T.StructType(
    [
        T.StructField("stage", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("input_hash", T.StringType(), True),
        T.StructField("row_count", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("status", T.StringType(), True),
    ]
)
