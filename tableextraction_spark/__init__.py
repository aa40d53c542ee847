"""tableextraction_spark — a from-scratch PySpark-native table-extraction engine.

Re-expresses the per-document capabilities of the reference
(DikovAlexandr/TableExtraction, a single-machine Python/OpenCV/EasyOCR pipeline)
as a DAG of pyspark.sql DataFrame stages with vectorized Arrow/pandas UDFs:

    documents (doc_id, spans) ──explode media spans──► join media_blobs
        ──mapInArrow decode_detect_ocr──► per-table cell rows
        ──groupBy(doc_id) + join, Catalyst array functions──► (doc_id, spans) output

All geometry/OCR math is batched NumPy inside Arrow UDFs — never per-row
Python at the DataFrame level.  See SURVEY.md for the reference mapping.
"""

__version__ = "0.1.0"
