"""kettle_jena_plugins_spark — a PySpark-native CDC / incremental-ingest engine.

A brand-new engine (NOT a port) with the query/data-processing capabilities of
``nationalarchives/kettle-jena-plugins``, re-expressed Spark-first:

- per-row construct/projection  (reference: model/JenaModelStep.java)
- column-wise combine/coalesce  (reference: combine/JenaCombineStep.java)
- group-merge with OtherFieldAction policies
                                (reference: groupmerge/JenaGroupMergeStep.java)
- exactly-once fold-and-flush sink → per-micro-batch MERGE into a lake target
                                (reference: serializer/JenaSerializerStep.java)
- validation split / dead-letter (reference: shacl/JenaShaclStep.java)

plus the CDC machinery the north rule requires (LWW ordered by (ts, lsn),
idempotent commit sequencing, schema evolution, hot-key skew absorbed by
the LWW reduce's map-side partial aggregate (no salting option),
checkpoint/resume) and large-scale training-data ops (dedup, similarity
search, text analysis, multimodal plumbing).
"""

__version__ = "0.1.0"
