"""Reference-format readers (SURVEY.md §2.1 S1-S7): each parses one of the
reference repo's on-disk formats into the engine's canonical schemas.

Formats (shapes documented against the reference, logic written fresh):

- S3 SemEval RE JSONL: ``{"token": [...], "h": {"name","pos":[s,e]},
  "t": {...}, "relation"}`` one JSON object per line
  (Relation_Extraction_and_Coreference_Resolution/data_loader.py:97-148).
- S1/S2 NER JSON: MRC style ``[{context, qas_id:"i.k", entity_label,
  start_position, end_position, impossible}]`` and CCKS style
  ``[{sentence, "labeled entities": [[s, e, label]]}]``
  (Named_Entity_Recognition/src/CRF/ner_data_utils.py:253-323).
- S4 EL pair TSV ``text_a\ttext_b\tlabel``
  (Entity_Linking/.../prepare_training_datasets.py:102-103).
- CHIP-CDN EL JSON ``[{text, normalized_result:"A##B"}]`` with ##-split
  multi-entity golds (eval_el.py:302-317, P11).
- S6 KG triple text ``h r t`` space-separated ints
  (KGAT-pytorch/utility/loader_kgat.py:78-81).
- S5 CF adjacency text ``user item item ...`` (loader_kgat.py:46-68).
- S7 id remap ``org_id remap_id`` with header
  (KGAT-pytorch/datasets/amazon-book/entity_list.txt).

All readers parse with Spark-native JSON/CSV/text scans plus expression
transforms (no Python row loops). The P3 mention/position consistency
check routes violations to a quarantine DataFrame instead of asserting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEMEVAL_SCHEMA = T.StructType(
    [
        T.StructField("token", T.ArrayType(T.StringType())),
        T.StructField(
            "h",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("pos", T.ArrayType(T.IntegerType())),
                ]
            ),
        ),
        T.StructField(
            "t",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("pos", T.ArrayType(T.IntegerType())),
                ]
            ),
        ),
        T.StructField("relation", T.StringType()),
    ]
)


def read_semeval_jsonl(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """-> (examples, quarantine).

    examples: tokens, head/tail (name, s, e), relation, guid (row hash).
    quarantine: rows failing the P3 consistency check
    ``" ".join(tokens[s:e]) == name`` (the reference asserts instead,
    data_loader.py:126-137).
    """
    raw = spark.read.schema(SEMEVAL_SCHEMA).json(path)
    df = raw.select(
        F.col("token").alias("tokens"),
        F.col("h.name").alias("head_name"),
        F.col("h.pos")[0].alias("head_s"),
        F.col("h.pos")[1].alias("head_e"),
        F.col("t.name").alias("tail_name"),
        F.col("t.pos")[0].alias("tail_s"),
        F.col("t.pos")[1].alias("tail_e"),
        F.col("relation"),
        F.xxhash64(F.concat_ws(" ", "token"), "relation").alias("guid"),
    )
    head_ok = (
        F.array_join(
            F.slice("tokens", F.col("head_s") + 1, F.col("head_e") - F.col("head_s")), " "
        )
        == F.col("head_name")
    )
    tail_ok = (
        F.array_join(
            F.slice("tokens", F.col("tail_s") + 1, F.col("tail_e") - F.col("tail_s")), " "
        )
        == F.col("tail_name")
    )
    ok = df.where(head_ok & tail_ok)
    quarantine = df.where(~(head_ok & tail_ok))
    return ok, quarantine


def read_mrc_ner_json(spark: SparkSession, path: str) -> DataFrame:
    """MRC NER: label_num query-rows per sentence regrouped to one row per
    sentence with all spans (the ``i % label_num`` regroup of
    ner_data_utils.py:270-323 done as groupBy on the sample part of qas_id).

    end_position in the format is inclusive; canonical spans here are
    exclusive-end (reference adds +1 at feature build).
    """
    raw = spark.read.option("multiLine", True).json(path)
    rows = raw if "qas_id" in raw.columns else raw.select(F.explode(F.col("value")).alias("r")).select("r.*")
    spans = F.zip_with(
        "start_position",
        "end_position",
        lambda s, e: F.struct(s.alias("start"), (e + 1).alias("end")),
    )
    per_label = rows.select(
        F.split("qas_id", r"\.")[0].cast("long").alias("sample_id"),
        "context",
        "entity_label",
        F.explode_outer(spans).alias("span"),
    )
    return (
        per_label.groupBy("sample_id")
        .agg(
            F.first("context").alias("context"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("span").isNotNull(),
                        F.struct(
                            F.col("span.start").alias("start"),
                            F.col("span.end").alias("end"),
                            F.col("entity_label").alias("label"),
                        ),
                    )
                )
            ).alias("spans"),
        )
        .select("sample_id", "context", "spans")
    )


def read_ccks_json(spark: SparkSession, path: str) -> DataFrame:
    """CCKS/kgclue NER: [{sentence, "labeled entities":[[s,e,label]]}]."""
    raw = spark.read.option("multiLine", True).json(path)
    ents = F.transform(
        F.col("`labeled entities`"),
        lambda x: F.struct(
            x[0].cast("int").alias("start"),
            x[1].cast("int").alias("end"),
            x[2].alias("label"),
        ),
    )
    return raw.select(
        F.monotonically_increasing_id().alias("_ord"),  # scan order, test-only
        F.col("sentence"),
        ents.alias("spans"),
    ).drop("_ord")


def read_el_pairs_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S4: text_a \\t text_b \\t label{0,1}."""
    return spark.read.csv(
        path, sep="\t", schema="text_a string, text_b string, label int"
    )


def read_cdn_json(spark: SparkSession, path: str) -> DataFrame:
    """CHIP-CDN: [{text, normalized_result:"A##B"}] -> gold as array (P11)."""
    raw = spark.read.option("multiLine", True).json(path)
    return raw.select(
        F.trim("text").alias("text"),
        F.split(F.col("normalized_result"), "##").alias("gold_entities"),
    )


def read_kg_triples(spark: SparkSession, path: str) -> DataFrame:
    """S6: space-separated int triples (column names per loader_kgat.py:78-81)."""
    return spark.read.csv(path, sep=" ", schema="h LONG, r INT, t LONG")


def read_cf_adjacency(spark: SparkSession, path: str) -> DataFrame:
    """S5: 'user item item ...' lines -> (user, item) rows with per-user
    dedup (the reference's np.unique, loader_kgat.py:59)."""
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), " ")
    return (
        lines.where(F.length(F.trim("value")) > 0)
        .select(
            parts[0].cast("long").alias("user"),
            F.array_distinct(F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))).alias(
                "items"
            ),
        )
        .select("user", F.explode(F.transform("items", lambda x: x.cast("long"))).alias("item"))
    )


def read_id_remap(spark: SparkSession, path: str) -> DataFrame:
    """S7: 'org_id remap_id' with header."""
    return spark.read.csv(
        path, sep=" ", header=True, schema="org_id string, remap_id long"
    )
