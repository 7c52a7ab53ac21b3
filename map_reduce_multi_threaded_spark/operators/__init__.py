"""Operator library.

* :mod:`.wordcount` — the reference's entire observable surface
  (``map_reduce.cpp`` S1-S14) as one declarative pipeline, plus knobs.
* :mod:`.relational` — the generalized relational algebra the reference
  lacked (joins, aggregations, windows, sorts, set ops, scalar fns).
* :mod:`.dedup`, :mod:`.similarity`, :mod:`.textstats`,
  :mod:`.multimodal` — LLM-data-pipeline extensions.
* :mod:`.vector_fold` — the sequential-fold kernel of the Arrow
  embedding scorers in :mod:`.similarity` (numpy only, so Python
  workers import nothing else to unpickle a scorer).
"""
