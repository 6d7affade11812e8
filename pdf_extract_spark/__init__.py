"""pdf_extract_spark — a PySpark-native main-content extraction engine.

A brand-new, from-scratch PySpark pipeline with the capabilities of
bitextor/pdf-extract (reference surveyed in SURVEY.md): PDF content-stream
tokenization, glyph/CMap decoding, XY-cut layout + reading order,
header/footer boilerplate stripping, config-driven normalize/join/repair
rules, heuristic language ID — all as vectorized Arrow UDFs over
DataFrames of interleaved (text + media) documents, plus the relational /
training-data operators a 100 TB corpus pipeline needs (dedup families,
similarity search, text quality stats).

Layout:
  sources/    PDF object layer, synthetic corpus generator, TableIO
  functions/  content-stream interpreter, glyph decode, text rules, langid
  operators/  layout passes, dedup, similarity, text stats, multimodal
  plans/      end-to-end extraction pipeline + lineage/resume
"""

__version__ = "0.1.0"
