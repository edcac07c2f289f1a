"""USNVC reference-parity pipeline: the full document-assembly
capability of the reference (bgotthold-usgs/pipeline_USNVC) as one
declarative Spark job, each stage's projection one SQL expression
text.

    ingest.read_export(spark, dir)   — 18 schema'd TSV scans (S1-S2)
    ingest.build_silver(tables)      — joins and dimension decodes J1-J9
    docs.build_documents(silver)     — referential-integrity check,
                                       nesting, hierarchy closure,
                                       doc assembly, root synthesis
    ledger.write_documents(docs, …)  — JSON envelope, validated sink
                                       and quarantine (S3/S6)
"""
