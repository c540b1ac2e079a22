"""textgraphs_spark — a PySpark-native entity-resolution / text-graph engine.

A from-scratch reimplementation of the capabilities of DerwenAI/textgraphs
as a distributed, Spark-first blocking → pairwise-scoring →
transitive-clustering record-linkage pipeline over web-page-shaped tables,
plus the supporting text-graph operators (lemma-graph construction,
PageRank + restack ranking, graph-of-relations affinity scores, entity
linking, node-link / RDF / CSV serialization) and the training-data-pipeline
operators (dedup, text quality, PII, corpus statistics, web-corpus curation).

Layout:
    nlp/        deterministic tokenizer / tagger / lemmatizer / NER
                (replaces spaCy; pure functions usable inside pandas UDFs)
    doclevel/   per-document lemma-graph construction + ranking
                (the reference's per-chunk "map" stage; runs inside
                mapInPandas over Arrow batches)
    operators/  corpus-level DataFrame operators: extraction, blocking,
                scoring, connected components, PageRank, GOR, linking,
                dedup, text quality, web-corpus curation
    sources/    sources & sinks: synthetic pages, node-link JSON, RDF N3,
                KuzuDB CSV, InGram JSON
    plans/      end-to-end pipelines with checkpointing + lineage/metrics,
                the DuckDB oracles and the ER evaluation family
    streaming/  Structured Streaming ingestion and the incremental ER fold
"""

__version__ = "0.1.0"
