"""PySpark-native main-content / outline extraction engine.

A brand-new batch DataFrame pipeline with the query and data-processing
capabilities of the reference extractor (shashankmp2004/PDF-Extractor,
surveyed in SURVEY.md): span merging, font-size-histogram heading
heuristics, title reconstruction, poster detection, HTML boilerplate
stripping — plus the large-scale training-data operators (dedup,
similarity search, text analysis) a 100 TB corpus pipeline needs.

Architecture is Spark-first: declarative DataFrame plans wherever the
semantics are relational (Catalyst handles pushdown / pruning / join
strategy), and one Arrow-batched ``mapInPandas`` stage only for the
per-document order-dependent folds that are genuinely non-relational.
"""

__version__ = "0.1.0"
