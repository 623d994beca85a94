"""vietnamese_ocr_spark — a from-scratch PySpark-native extraction engine.

Re-expresses the data-processing capabilities of the reference repo
(datvodinh/vietnamese-ocr, surveyed in SURVEY.md) as an idiomatic Spark
pipeline over an Iceberg-style table of interleaved text+media documents:

  read documents -> posexplode(spans) -> route by kind
    -> text path:  vectorized boilerplate-strip / normalization (JVM regexp)
    -> media path: join `media` on media_ref, hash repartition on
       media_ref, one mapInArrow OCR stage (decode -> preprocess -> detect ->
       greedy recognize, all NumPy over Arrow batches)
  -> union -> groupBy(doc_id) stitch by offset -> write + lineage metrics.

All OCR math lives in `model/` and `functions/imaging.py` as pure NumPy so
the single-process oracle (`oracle.py`) and the Spark UDFs share one
implementation — span equality between them is the correctness contract
(reference semantics: src/utils/inference.py, src/model/model.py).
"""

__version__ = "0.1.0"
