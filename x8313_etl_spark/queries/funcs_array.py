"""Array / explode / higher-order / map / JSON / struct families
(SURVEY.md §2.8 F9-F14).

The embeddings table (array<float>, fixed length 64) exercises the
array families; events.props (JSON string) exercises map/JSON. Sum-like
reductions over float arrays go through decimal elements so the fold
is order-independent and cross-engine exact (see functions/numeric.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..registry import register


@register(
    "f9_array_basics",
    category="functions",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       embedding[1] AS first_val,
       CAST(list_slice(embedding, 1, 3)[1] AS DOUBLE) AS head3_1,
       CAST(list_slice(embedding, 1, 3)[2] AS DOUBLE) AS head3_2,
       CAST(list_slice(embedding, 1, 3)[3] AS DOUBLE) AS head3_3,
       CAST(list_sort(list_slice(embedding, 1, 3))[1] AS DOUBLE) AS head3_min,
       CAST(list_sort(list_slice(embedding, 1, 3))[2] AS DOUBLE) AS head3_mid,
       CAST(list_sort(list_slice(embedding, 1, 3))[3] AS DOUBLE) AS head3_max,
       list_max(embedding) AS max_val,
       list_contains(list_transform(embedding, x -> x > 0), true) AS any_positive
FROM embeddings
""",
)
def f9_array_basics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: size / element_at (1-based in both engines) / slice /
    sort_array / array_max / array_contains. The slice and its sorted
    form are surfaced as fixed scalar columns (the slice length is a
    query constant) because array result columns crash the grading
    harness; doubles avoid any string-formatting dependence."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    head3 = F.slice(emb, 1, 3)
    head3_sorted = F.sort_array(F.slice(emb, 1, 3))
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.element_at(emb, 1).alias("first_val"),
        F.element_at(head3, 1).cast("double").alias("head3_1"),
        F.element_at(head3, 2).cast("double").alias("head3_2"),
        F.element_at(head3, 3).cast("double").alias("head3_3"),
        F.element_at(head3_sorted, 1).cast("double").alias("head3_min"),
        F.element_at(head3_sorted, 2).cast("double").alias("head3_mid"),
        F.element_at(head3_sorted, 3).cast("double").alias("head3_max"),
        F.array_max(emb).alias("max_val"),
        F.array_contains(F.transform(emb, lambda x: x > 0), F.lit(True)).alias(
            "any_positive"
        ),
    )


@register(
    "f10_explode",
    category="functions",
    oracle="""
SELECT doc_id,
       CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
       unnest(string_split(text, ' ')) AS word
FROM documents
WHERE doc_id < 50
""",
)
def f10_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: posexplode — words with 0-based position (DuckDB twin uses
    generate_subscripts since it lacks WITH ORDINALITY)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )


@register(
    "f11_higher_order",
    category="functions",
    oracle="""
SELECT vec_id,
       CAST(list_sum(list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(25,6)))) AS DOUBLE) AS vec_sum,
       CAST(list_sum(list_transform(embedding,
            x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(25,6)))) AS DOUBLE) AS sq_sum,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive,
       CAST(embedding[1] AS DOUBLE) * 2 AS hd_1,
       CAST(embedding[2] AS DOUBLE) * 2 AS hd_2,
       CAST(embedding[3] AS DOUBLE) * 2 AS hd_3,
       CAST(embedding[4] AS DOUBLE) * 2 AS hd_4,
       CAST(list_sum(list_transform(list_zip(list_slice(embedding, 1, 8), list_reverse(list_slice(embedding, 1, 8))),
            p -> CAST(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) AS DECIMAL(25,6)))) AS DOUBLE) AS rev_dot8
FROM embeddings
""",
)
def f11_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: transform / filter / aggregate / zip_with. Reductions use
    decimal elements → order-independent sums, exact across engines;
    per-element double products are IEEE-exact in both. Floats are
    widened to double BEFORE the decimal cast: a float's shortest repr
    is ~7-9 sig digits, which parks values exactly on 1e-6 half-
    boundaries where Spark's and DuckDB's tie-breaking diverge."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    dec = "decimal(25,6)"
    zero = F.lit(0).cast(dec)
    vec_sum = F.aggregate(
        emb, zero, lambda acc, x: (acc + x.cast("double").cast(dec)).cast(dec)
    ).cast("double")
    sq_sum = F.aggregate(
        emb,
        zero,
        lambda acc, x: (acc + (x.cast("double") * x.cast("double")).cast(dec)).cast(dec),
    ).cast("double")
    head8 = F.slice(emb, 1, 8)
    rev_dot8 = F.aggregate(
        F.zip_with(
            head8,
            F.reverse(head8),
            lambda x, y: (x.cast("double") * y.cast("double")).cast(dec),
        ),
        zero,
        lambda acc, x: (acc + x).cast(dec),
    ).cast("double")
    return e.select(
        "vec_id",
        vec_sum.alias("vec_sum"),
        sq_sum.alias("sq_sum"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_positive"),
        *[
            F.element_at(F.transform(emb, lambda x: x.cast("double") * 2), i).alias(
                f"hd_{i}"
            )
            for i in (1, 2, 3, 4)
        ],
        rev_dot8.alias("rev_dot8"),
    )


@register(
    "f12_map_functions",
    category="functions",
    oracle="""
SELECT event_id,
       array_to_string(list_sort(json_keys(props)), '|') AS prop_keys,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
       CAST(len(json_keys(props)) AS INTEGER) AS n_props
FROM events
""",
)
def f12_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: parse props into MapType → map_keys / element_at / size
    (DuckDB twin stays in JSON land, same values). Key lists are sorted
    then '|'-joined: map iteration order is engine-dependent, and array
    result columns crash the grading harness."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return ev.select(
        "event_id",
        F.concat_ws("|", F.sort_array(F.map_keys(m))).alias("prop_keys"),
        F.element_at(m, "k").alias("k_value"),
        F.size(F.map_keys(m)).alias("n_props"),
    )


@register(
    "f13_json",
    category="functions",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_int,
       '{"k":' || CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR) || '}' AS rebuilt
FROM events
""",
)
def f13_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: get_json_object / from_json(struct) / to_json round-trip
    (both engines emit compact JSON, probed)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "struct<k:bigint>")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        F.to_json(F.struct(parsed.getField("k").alias("k"))).alias("rebuilt"),
    )


@register(
    "f14_struct_ops",
    category="functions",
    oracle="""
SELECT o_orderkey,
       struct_pack(status := o_orderstatus, price := o_totalprice).price AS price_out,
       struct_pack(status := o_orderstatus, price := o_totalprice).status AS status_out,
       struct_pack(a := o_orderpriority, b := struct_pack(s := o_orderstatus)).b.s AS nested_status,
       to_json(struct_pack(status := o_orderstatus, price := round(o_totalprice, 0))) AS info_json
FROM orders
""",
)
def f14_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: struct construction, field access, nested structs, struct→json.

    The output surface stays scalar: a struct-typed result column
    round-trips differently through Arrow vs non-Arrow collection (Row
    vs dict), which makes value-hash comparison representation-dependent
    rather than semantics-dependent."""
    o = load_table(spark, sf_dir, "orders")
    info = F.struct(
        F.col("o_orderstatus").alias("status"), F.col("o_totalprice").alias("price")
    )
    info_r = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice"), 0).alias("price"),
    )
    nested = F.struct(
        F.col("o_orderpriority").alias("a"),
        F.struct(F.col("o_orderstatus").alias("s")).alias("b"),
    )
    return o.select(
        "o_orderkey",
        info.getField("price").alias("price_out"),
        info.getField("status").alias("status_out"),
        nested.getField("b").getField("s").alias("nested_status"),
        F.to_json(info_r).alias("info_json"),
    )


@register(
    "f15_variant_extract",
    category="functions",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
       event_type AS et,
       CAST(user_id AS BIGINT) AS uid,
       value AS val,
       CAST(json_extract(props, '$.missing') AS BIGINT) AS absent
FROM events
""",
)
def f15_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: the VARIANT type (Spark 4) — schema-on-read over
    semi-structured data. ``parse_json`` ingests a JSON string ONCE
    into the binary variant encoding; ``variant_get`` then extracts
    typed values by path without re-parsing text per access — at 100 TB
    this is the difference between one parse and one parse per field
    (f12's get_json_object shape). Two sources here: the raw
    ``props`` column (genuine parse on both engines), and a nested
    document built in-plan via ``to_json(struct(...))`` so extraction
    exercises multi-level paths (``$.who.uid``) whose expected values
    the oracle reads straight from the typed columns. Missing paths
    yield NULL via ``try_variant_get`` (SQL NULL semantics preserved,
    not an error)."""
    ev = load_table(spark, sf_dir, "events")
    nested = F.parse_json(
        F.to_json(
            F.struct(
                F.col("event_type").alias("et"),
                F.struct(
                    F.col("user_id").alias("uid"), F.col("value").alias("val")
                ).alias("who"),
            )
        )
    )
    pv = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.try_variant_get(pv, "$.k", "bigint").alias("k_value"),
        F.try_variant_get(nested, "$.et", "string").alias("et"),
        F.try_variant_get(nested, "$.who.uid", "bigint").alias("uid"),
        F.try_variant_get(nested, "$.who.val", "double").alias("val"),
        F.try_variant_get(pv, "$.missing", "bigint").alias("absent"),
    )
