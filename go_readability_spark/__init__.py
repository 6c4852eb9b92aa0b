"""go_readability_spark — a PySpark-native main-content extraction engine
with the query/data-processing capabilities of go-shiori/go-readability,
re-expressed Spark-first (SURVEY.md).

Layout:
  dom/         stdlib-only DOM + HTML5-ish tree builder + serializer
  readability/ the Arc90 extraction algorithm (pure Python, UDF interior)
  plans/       Spark pipeline: scan → [exchange] → mapInArrow → sink; the
               resumable bucket sink alone salts its input + checkpoints
  sources/     fixture/corpus packers producing the `pages` table shape
  operators/   training-data ops: dedup (exact/minhash/simhash), similarity
  functions/   text analysis: language-ID, quality, tokens, fingerprints
  streaming/   Structured Streaming wrapper over the same extraction UDF
"""

__version__ = "0.1.0"
