"""KG-construction pipeline stages (the Spark-first HalyardBulkLoad).

Reference path: RDF files -> RioFileInputFormat -> RDFMapper -> MR
shuffle-sort -> HFiles -> bulk adopt (tools/.../HalyardBulkLoad.java:502-573).
Ours: src table -> extract (mapInPandas) -> link (broadcast/shuffle join)
-> canonicalize (iterative CC) -> triples -> sorted parquet mirrors.
"""
