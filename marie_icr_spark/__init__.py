"""marie_icr_spark — a PySpark-native transcript-extraction engine.

A from-scratch rebuild of the extraction semantics of gregbugaj/marie-icr
(reference at /root/reference) over Spark DataFrames: the reference's unit of
work is a *page* of a scanned document; ours is a *turn* of a multi-turn agent
transcript ``(conv_id, turn_idx, role, text, tool, ts)``.

Layout:
  extractors/  pure-Python, Spark-free extraction core (also the golden twin)
  functions/   native Column helpers (hashing, shingles, text joins)
  operators/   DataFrame-level operators (extraction, assembly, voting,
               dedup, similarity, text stats, multimodal plumbing)
  sources/     table loaders + deterministic transcript synthesizers
  plans/       manifest-swap commit catalog (checkpoint/resume) + lineage log
  streaming/   Structured Streaming ingestion pipeline
"""

__version__ = "0.1.0"
