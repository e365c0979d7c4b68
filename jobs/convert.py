#!/usr/bin/env python
"""File-converter CLI — the reference's ``mc2skos map infile outfile``
surface (/root/reference/mc2skos/mc2skos.py:206-250) over the Spark
engine, so a reference user can switch command-for-command:

    spark-submit --py-files mc2skos_spark.zip jobs/convert.py \\
        infile.xml outfile.ttl [--webdewey] [--altlabels] \\
        [--components] [--exclude_notes] [--skip-classification] \\
        [--skip-authority] [--scheme gnd] [--uri TEMPLATE] \\
        [--whitespace STR] [--include extra.ttl] [--expand] \\
        [--transitive] [--skosify [CFG]] [-o turtle|jskos|triples] \\
        [--notes] [-l|--list-schemes] [--version] [-v]

This is the small-file convenience mode: records are distributed for
extraction (the same Arrow pass the pipeline uses) and the result is
streamed back into ONE output file like the reference writes.  For
table-scale inputs use jobs/run_pipeline.py (catalog snapshots,
resume, partitioned sinks).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> None:
    parser = argparse.ArgumentParser(
        description="Convert MARC21 Classification/Authority XML to SKOS")
    # positionals optional like the reference (mc2skos.py:209-210) so
    # --list-schemes works standalone; split + validated below
    parser.add_argument("paths", nargs="*",
                        metavar="infile... outfile",
                        help="input MARCXML file(s), then the output "
                             "RDF file (last positional)")
    parser.add_argument("-o", "--outformat", default=None,
                        choices=["turtle", "jskos", "ndjson", "triples"],
                        help="like the reference: 'jskos' = ONE indented"
                             " JSON document with @graph, 'ndjson' = one"
                             " JSKOS concept per line; 'triples' = one"
                             " predicate-map JSON line per subject."
                             " Default by outfile extension (.ttl→turtle,"
                             " .jskos/.json→jskos, .ndjson→ndjson)")
    parser.add_argument("--include", action="append", default=[],
                        help="RDF (Turtle) file(s) to union into the "
                             "output graph")
    parser.add_argument("--uri", dest="base_uri", default=None,
                        help="concept URI template (ad-hoc scheme)")
    parser.add_argument("--scheme", default=None,
                        help="concept scheme code or URI")
    parser.add_argument("--whitespace", default=None,
                        help="whitespace replacement in minted URIs")
    parser.add_argument("--altlabels", "--indexterms", dest="altlabels",
                        action="store_true")
    parser.add_argument("--notes", action="store_true",
                        help="DEPRECATED no-op kept for flag parity: "
                             "notes are included by default "
                             "(reference mc2skos.py:230,252-255)")
    parser.add_argument("--exclude_notes", action="store_true")
    parser.add_argument("--components", action="store_true")
    parser.add_argument("--webdewey", action="store_true")
    parser.add_argument("--skip-classification", dest="skip_classification",
                        action="store_true")
    parser.add_argument("--skip-authority", dest="skip_authority",
                        action="store_true")
    parser.add_argument("--expand", action="store_true",
                        help="SKOS inference post-pass")
    parser.add_argument("--transitive", action="store_true",
                        help="materialize skos:broaderTransitive")
    parser.add_argument("--skosify", nargs="?", const=True, default=None,
                        metavar="CFG",
                        help="validation pass (cycles, label conflicts"
                             " — logged to stderr + stats) and the"
                             " automatic repair skosify applies:"
                             " drop altLabels duplicating a concept's"
                             " own prefLabel.  With a skosify CONFIG"
                             " FILE argument (reference parity,"
                             " mc2skos.py:244-245): [options] keys"
                             " narrower/transitive/break_cycles/"
                             " preflabel_policy are mapped onto the"
                             " engine's post-pass operators; unknown"
                             " keys warn and are ignored")
    parser.add_argument("-l", "--list-schemes", dest="list_schemes",
                        action="store_true",
                        help="list supported vocabulary schemes and exit")
    parser.add_argument("--version", action="version",
                        version="%(prog)s mc2skos_spark")
    parser.add_argument("-v", "--verbose", action="store_true",
                        help="more verbose output (INFO-level Spark log)")
    args = parser.parse_args()

    # nargs='?' makes `--skosify in.xml out.ttl` eat the first
    # positional as the "config path" — if the consumed token is
    # plainly an input/output RDF file and not an INI config, give it
    # back to the positionals and treat --skosify as the bare boolean
    # (the pre-cfg behavior).  A real skosify config never carries
    # these extensions.
    if isinstance(args.skosify, str) and args.skosify.lower().endswith(
            (".xml", ".marcxml", ".ttl", ".jskos", ".ndjson", ".json")):
        args.paths.insert(0, args.skosify)
        args.skosify = True

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    if args.notes:
        import warnings as _w
        _w.warn("--notes is deprecated as including notes is now the "
                "default. The inverse option --exclude_notes has been "
                "added to exclude notes.", DeprecationWarning)
    if args.list_schemes:
        # reference parity (mc2skos.py:261-271): the --uri/--scheme/
        # --whitespace overrides are applied via set_default_scheme
        # BEFORE the listing, then the registry is printed — same
        # ordering here so `--scheme X -l` walks the identical code
        # path.  No Spark session needed (core is Spark-free).
        from mc2skos_spark.core.vocab import Vocabularies
        vocabularies = Vocabularies()
        vocabularies.set_default_scheme(generic=args.base_uri,
                                        scheme=args.scheme,
                                        whitespace=args.whitespace)
        print("Schemes:")
        for voc in vocabularies:
            print("- %s" % voc.code)
        return
    if len(args.paths) < 2:
        parser.error("infile(s) and outfile are required")
    infiles, outfile = args.paths[:-1], args.paths[-1]

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("mc2skos-convert").getOrCreate()
    if args.verbose:
        spark.sparkContext.setLogLevel("INFO")
    from mc2skos_spark.plans.shiplib import ensure_shipped
    ensure_shipped(spark)  # workers need the package without --py-files
    stats = convert(spark, infiles, outfile,
                    outformat=args.outformat, include=args.include,
                    base_uri=args.base_uri, scheme=args.scheme,
                    whitespace=args.whitespace, altlabels=args.altlabels,
                    exclude_notes=args.exclude_notes,
                    components=args.components, webdewey=args.webdewey,
                    skip_classification=args.skip_classification,
                    skip_authority=args.skip_authority,
                    expand=args.expand, transitive=args.transitive,
                    skosify=args.skosify)
    print(json.dumps(stats))
    spark.stop()


def convert(spark, infiles, outfile, outformat=None, include=(),
            base_uri=None, scheme=None, whitespace=None, altlabels=False,
            exclude_notes=False, components=False, webdewey=False,
            skip_classification=False, skip_authority=False,
            expand=False, transitive=False, skosify=False) -> dict:
    """Convert MARCXML file(s) to one SKOS output file; returns stats."""
    from mc2skos_spark.operators.closure import broader_transitive
    from mc2skos_spark.operators.expand import expand_inferred
    from mc2skos_spark.operators.extract import (extract_triples,
                                                 quarantine_from_extracted,
                                                 triples_from_extracted)
    from mc2skos_spark.sinks.jskos import triples_to_jskos
    from mc2skos_spark.sinks.serializers import (triples_to_ndjson,
                                                 triples_to_turtle,
                                                 turtle_header)
    from mc2skos_spark.sources.rdf_include import include_triples

    fmt = outformat
    if fmt is None:
        ext = os.path.splitext(outfile)[1].lower()
        fmt = {"ttl": "turtle", "turtle": "turtle", "jskos": "jskos",
               "ndjson": "ndjson", "json": "jskos"}.get(ext.lstrip("."),
                                                        "turtle")

    # record loading: the Spark 4 Python DataSource parses each file
    # ON AN EXECUTOR (one InputPartition per file — a 10k-file dump
    # parses 10k-way parallel, no XML bytes on the driver); the exact
    # path list goes as a JSON option, so names with commas survive
    from mc2skos_spark.sources.marcxml_source import read_marcxml
    records = read_marcxml(spark, list(infiles))

    default_scheme = None
    if base_uri or scheme or whitespace:
        default_scheme = {"generic": base_uri, "scheme": scheme,
                          "whitespace": whitespace}
    options = {
        "include_webdewey": webdewey,
        "include_altlabels": altlabels,
        "include_components": components,
        "exclude_notes": exclude_notes,
        "skip_classification": skip_classification,
        "skip_authority": skip_authority,
    }

    extracted = extract_triples(records, options, default_scheme).cache()
    triples = triples_from_extracted(extracted)
    triples = include_triples(triples, spark, list(include))
    if expand:
        triples = expand_inferred(triples)
    if transitive:
        triples = triples.unionByName(broader_transitive(triples))
    n_validation_warnings = 0
    skosify_cfg = None
    if skosify:
        # reference parity: skosify runs after expand
        # (/root/reference/mc2skos/mc2skos.py:192-201); warnings are
        # reported, the one automatic repair (redundant altLabels)
        # is applied.  A string value is a skosify CONFIG FILE
        # (mc2skos.py:244-245): its [options] keys map onto the
        # engine's post-pass operators (core/skosify_config.py).
        from mc2skos_spark.operators.validate import (
            drop_redundant_altlabels, validation_warnings)
        if isinstance(skosify, str):
            from mc2skos_spark.core.skosify_config import (
                parse_skosify_config)
            from mc2skos_spark.operators.expand import expand_hierarchical
            skosify_cfg = parse_skosify_config(skosify)
            for key in skosify_cfg["unsupported"]:
                print("skosify: unsupported config key ignored: %s"
                      % key, file=sys.stderr)
            if skosify_cfg["narrower"]:
                triples = expand_hierarchical(triples)
            if skosify_cfg["transitive"] and not transitive:
                triples = triples.unionByName(broader_transitive(triples))
        for row in validation_warnings(triples).toLocalIterator():
            print("skosify: %s: %s" % (row["record_id"], row["reason"]),
                  file=sys.stderr)
            n_validation_warnings += 1
        triples = drop_redundant_altlabels(triples)

    n = 0
    with open(outfile, "w", encoding="utf-8") as fp:
        if fmt == "turtle":
            fp.write(turtle_header() + "\n")
            for row in triples_to_turtle(triples).toLocalIterator():
                fp.write(row["block"] + "\n")
                n += 1
        elif fmt == "jskos":
            # reference parity (mc2skos.py:349-355): ONE indented JSON
            # document with a top-level @context and @graph
            graph = sorted(
                (json.loads(row["line"]) for row in
                 triples_to_jskos(triples, ndjson=False).toLocalIterator()),
                key=lambda o: o["uri"])
            n = len(graph)
            from mc2skos_spark.sinks.jskos import JSKOS_CONTEXT_URL
            fp.write(json.dumps({"@context": JSKOS_CONTEXT_URL,
                                 "@graph": graph},
                                sort_keys=True, indent=2,
                                ensure_ascii=False))
            fp.write("\n")
        elif fmt == "ndjson":
            for row in triples_to_jskos(triples).toLocalIterator():
                fp.write(row["line"] + "\n")
                n += 1
        else:
            for row in triples_to_ndjson(triples).toLocalIterator():
                fp.write(row["line"] + "\n")
                n += 1

    quarantined = quarantine_from_extracted(extracted).count()
    stats = {"outfile": outfile, "format": fmt,
             "subjects": n, "quarantined": quarantined}
    if skosify:
        stats["validation_warnings"] = n_validation_warnings
    if skosify_cfg is not None:
        stats["skosify_config"] = {
            k: v for k, v in skosify_cfg.items() if k != "unsupported"}
    return stats


if __name__ == "__main__":
    main()
