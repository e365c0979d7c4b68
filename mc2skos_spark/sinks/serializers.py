"""Human-readable sinks: ordered Turtle (S4) and JSKOS-ish NDJSON (S5).

Turtle ordering reproduces the reference's OrderedTurtleSerializer sort
(/root/reference/mc2skos/mc2skos.py:332-346): subjects keyed by the
regex family ``C{table}--{number}`` (table entries) < ``B{number}``
(schedule numbers) < ``A{other}`` (fallback) — i.e. lexically
'A' < 'B' < 'C', so fallback sorts first, then schedules, then tables,
matching otsrdflib's sorter list semantics.

Spark-first: the sort key is a JVM-side ``when/regexp_extract`` column,
grouping is one ``groupBy(subj)`` + ``collect_list``, and the writer is
a plain ``df.write.text`` — a distributed sort + format expression, not
a driver-side serializer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core import constants as C

PREFIXES = {
    "skos": C.SKOS,
    "dcterms": C.DCTERMS,
    "owl": C.OWL,
    "rdf": C.RDF,
    "xsd": C.XSD,
    "wd": C.WD,
    "mads": C.MADS,
}

# mc2skos.py:340-344 sorter regexes, re-expressed
_TABLE_RE = r"/([0-9A-Z\-]+)--([0-9.\-;:]+)/e"
_SCHEDULE_RE = r"/([0-9.\-;:]+)/e"


def with_pred_key(triples: DataFrame) -> DataFrame:
    """Append a filesystem-safe short predicate key (e.g.
    ``skos_broader``) used as the physical partition column of the
    published triples table (S6): predicate-restricted readers get
    directory-level partition pruning."""
    local = F.regexp_extract("pred", r"([^/#]+)$", 1)
    namespace = (F.when(F.col("pred").startswith(C.SKOS), "skos")
                 .when(F.col("pred").startswith(C.DCTERMS), "dcterms")
                 .when(F.col("pred").startswith(C.OWL), "owl")
                 .when(F.col("pred").startswith(C.RDF), "rdf")
                 .when(F.col("pred").startswith(C.WD), "wd")
                 .when(F.col("pred").startswith(C.MADS), "mads")
                 .otherwise("ext"))
    return triples.withColumn(
        "pred_key", F.concat_ws("_", namespace,
                                F.regexp_replace(local, r"[^\w]", "_")))


def turtle_sort_key(subj_col) -> F.Column:
    table_part = F.regexp_extract(subj_col, _TABLE_RE, 1)
    table_num = F.regexp_extract(subj_col, _TABLE_RE, 2)
    schedule_num = F.regexp_extract(subj_col, _SCHEDULE_RE, 1)
    return (F.when(table_part != "",
                   F.concat(F.lit("C"), table_part, F.lit("--"), table_num))
            .when(schedule_num != "", F.concat(F.lit("B"), schedule_num))
            .otherwise(F.concat(F.lit("A"), subj_col)))


def _term_expr():
    """Render one triple's object as a Turtle term (JVM expressions).

    Escapes backslash, quote, LF, CR and TAB — raw #xA/#xD are illegal
    inside STRING_LITERAL_QUOTE, so a newline-bearing note would
    otherwise produce unparseable Turtle (rdflib escapes identically).
    """
    # NB replacement strings are JAVA regex replacements: backslash is
    # an escape there too, so a literal backslash must be written \\
    # (r'\"' would collapse to a bare quote and not escape at all)
    escaped = F.regexp_replace(
        F.regexp_replace(F.col("obj"), r"\\", r"\\\\"), '"', r'\\"')
    escaped = F.regexp_replace(escaped, "\n", r"\\n")
    escaped = F.regexp_replace(escaped, "\r", r"\\r")
    escaped = F.regexp_replace(escaped, "\t", r"\\t")
    literal = F.concat(F.lit('"'), escaped, F.lit('"'))
    literal = (F.when(F.col("obj_lang").isNotNull(),
                      F.concat(literal, F.lit("@"), F.col("obj_lang")))
               .when(F.col("obj_datatype") == C.XSD + "boolean",
                     F.col("obj"))  # bare true/false
               .when(F.col("obj_datatype").isNotNull(),
                     F.concat(literal, F.lit("^^<"),
                              F.col("obj_datatype"), F.lit(">")))
               .otherwise(literal))
    return (F.when(F.col("obj_is_literal"), literal)
            .otherwise(F.concat(F.lit("<"), F.col("obj"), F.lit(">"))))


def triples_to_turtle(triples: DataFrame) -> DataFrame:
    """One formatted Turtle block per subject, ordered (G4).

    Returns a single-column DataFrame ``(block)`` already sorted; write
    with ``df.coalesce(1).write.text(path)`` or keep distributed for
    sharded output.  componentList positional rows are rendered as
    repeated ``mads:componentList`` statements annotated with their
    position (the bnode cons-list is not reproducible — see SURVEY §1c).
    """
    rendered = triples.select(
        "subj", "pred", "obj",
        F.concat(F.lit("    <"), F.col("pred"), F.lit("> "), _term_expr(),
                 F.when(F.col("component_pos").isNotNull(),
                        F.concat(F.lit("  # pos="),
                                 F.col("component_pos").cast("string")))
                  .otherwise(F.lit(""))).alias("stmt"),
    )
    # class_order parity (mc2skos.py:336-339): ConceptScheme blocks
    # print before Concept blocks regardless of their URI sort keys
    is_scheme = F.max(
        F.when((F.col("pred") == C.RDF + "type") &
               (F.col("obj") == C.SKOS + "ConceptScheme"), 1)
        .otherwise(0))
    blocks = (rendered.groupBy("subj")
              .agg(F.array_join(F.array_sort(F.collect_list("stmt")),
                                " ;\n").alias("body"),
                   is_scheme.alias("is_scheme"))
              .select(
                  (1 - F.col("is_scheme")).alias("class_rank"),
                  turtle_sort_key(F.col("subj")).alias("sort_key"),
                  F.concat(F.lit("<"), F.col("subj"), F.lit(">\n"),
                           F.col("body"), F.lit(" .\n")).alias("block")))
    return blocks.orderBy("class_rank", "sort_key").select("block")


def turtle_header() -> str:
    return "".join("@prefix %s: <%s> .\n" % (p, uri)
                   for p, uri in sorted(PREFIXES.items()))


def write_turtle(triples: DataFrame, path: str) -> None:
    """Materialize an ordered .ttl directory (part files keep the global
    order because orderBy precedes the write)."""
    triples_to_turtle(triples).write.mode("overwrite").text(path)


def triples_to_ndjson(triples: DataFrame) -> DataFrame:
    """JSKOS-ish NDJSON: one JSON object per subject (S5,
    mc2skos.py:348-358) — predicate → list of object terms."""
    obj_struct = F.struct(
        F.col("obj").alias("value"),
        F.col("obj_is_literal").alias("literal"),
        F.col("obj_lang").alias("lang"),
        F.col("obj_datatype").alias("datatype"),
        F.col("component_pos").alias("pos"))
    grouped = (triples
               .groupBy("subj", "pred")
               .agg(F.collect_list(obj_struct).alias("objs"))
               .groupBy("subj")
               .agg(F.map_from_entries(
                   F.collect_list(F.struct("pred", "objs"))).alias("preds")))
    return grouped.select(
        F.to_json(F.struct(F.col("subj").alias("uri"),
                           F.col("preds"))).alias("line"))
