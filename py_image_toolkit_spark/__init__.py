"""py_image_toolkit_spark — a from-scratch PySpark-native web-text extraction engine.

Re-expresses the capabilities of the reference ``w3labkr/py-image-toolkit``
(a batch CLI of image stages: resize/crop/ocr/optimize — see SURVEY.md) as
vectorized document-extraction stages over a Common-Crawl-style ``pages``
table:

- E1 **normalize**  (≙ resize.py):   charset detect + decode html:binary →
  canonical text; strip script/style/comments.
- E2 **select**     (≙ crop.py):     segment into blocks, score by text/link
  density, pick the main block, expand to an optimal 2-D window
  (rule-of-thirds / golden-ratio positional priors, padding) and extract the
  char span.
- E3 **extract**    (≙ ocr.py):      ordered token labeling + run-merge +
  first-wins pivot to one structured record per url.
- E4 **encode**     (≙ optimize.py): one zstd parquet format per snapshot
  table, set by the table (sources/tables.py), not by its writers;
  snapshot commit; skip-if-exists resume via a committed-url lookup.

Because no extraction step crosses document boundaries, the whole
per-document pipeline runs as ONE Arrow-batched ``mapInArrow`` stage
(operators/doc_kernel.py, the only extraction path) — zero wide shuffles,
measured scaling efficiency 0.822 local[4]→local[16]. That stage applies
per-document Python inside the Arrow batches; the measured per-stage split
(BENCH/BASELINE.md round-3 section) shows ~60% of it is the irreducible
HTML/PDF parse. The E2 geometry and E3 labeling also have pure Column/Window
forms (operators/select.py, operators/extract_fields.py), which the
contract queries q12-q17 cross-validate against DuckDB SQL. A
pure-Python single-node oracle (``py_image_toolkit_spark.oracle``) defines
byte-identical truth; pytest asserts engine == oracle per url.
"""

__version__ = "0.1.0"
