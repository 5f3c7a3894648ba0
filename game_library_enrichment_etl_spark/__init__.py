"""game_library_enrichment_etl_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch Spark-first re-expression of the capability set of the
reference repo ``tkautzman13/game-library-enrichment-etl`` (see SURVEY.md):

- high-watermark / WAL-tail incremental extraction  -> Structured Streaming
  change-stream source (reference: src/internet_games_database.py:279-281,337-339)
- keyed upsert / MERGE with last-writer-wins         -> per-batch LWW dedup +
  copy-on-write MERGE into an Iceberg-style lake table
  (reference: src/how_long_to_beat.py:236-244, src/internet_games_database.py:294-302)
- per-batch dedup with deterministic winner          -> window / max_by LWW
  (reference: src/how_long_to_beat.py:299-339)
- enrichment (fuzzy match w/ blocking, explode)      -> operators/
  (reference: src/internet_games_database.py:412-497, 656-679)
- lineage / match-quality metrics                    -> lineage lake table
  (reference: src/how_long_to_beat.py:401-558)

Everything is DataFrame-API / Catalyst-optimized; the only Python execution
paths are Arrow-batched (the lake writer's one pass per write task, which
extracts html->text and writes the files).
"""

from ._zipimport import install as _install_zipimport

__version__ = "0.1.0"

# a Python worker imports the package with its first engine function, and
# from then on skips the per-task re-read of its unchanged zip archives
_install_zipimport()
