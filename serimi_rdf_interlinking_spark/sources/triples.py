"""Core schemas.

The triple model mirrors the reference's effective three-valued type
system (URI / literal-string / bnode): the SPARQL result parser erases
literal datatypes to strings (activerdf_sparql sparql.rb:253-254), so
`o` is always a string and node kind travels as flags.
"""

from __future__ import annotations

from pyspark.sql import types as T

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
WIKI_REDIRECT = "http://dbpedia.org/ontology/wikiPageRedirects"

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("o", T.StringType(), True),
        T.StructField("o_is_uri", T.BooleanType(), False),
        T.StructField("is_bnode", T.BooleanType(), False),
    ]
)

# BASELINE.json input_hint: Common-Crawl-style web pages
PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

EXTRACTED_TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("o", T.StringType(), True),
        T.StructField("o_is_uri", T.BooleanType(), False),
        T.StructField("src_url", T.StringType(), False),
    ]
)
