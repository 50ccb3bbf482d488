"""Output fingerprint of the shared extraction sources.

``kernels/segment.py``, ``oracle/labeling.py``, ``oracle/geometry.py`` and
``oracle/extractor.py`` are both the engine's doc kernel and the oracle it is
checked against, so the parity suite cannot see a change of meaning in them.
This test pins their combined output on 4,000 fixture documents: a perf
rewrite of any of them must leave the hash unchanged.
"""

import hashlib
import json

from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.fixtures import page_row
from py_image_toolkit_spark.oracle.extractor import extract_document

# sha256 over every record of page_row(i, seed), i < 2000, seeds 1 and 2,
# with ExtractConfig(), each as sorted-key JSON plus a newline
EXPECTED = "3966972634db714d2334977da85187c49d706cb4249eac7b814be4c428a3eccc"


def test_extract_document_output_fingerprint():
    cfg = ExtractConfig()
    h = hashlib.sha256()
    n = 0
    for seed in (1, 2):
        for i in range(2000):
            r = page_row(i, seed)
            for rec in extract_document(r["url"], r["html"], cfg):
                line = json.dumps(rec, sort_keys=True, ensure_ascii=False) + "\n"
                h.update(line.encode("utf-8"))
                n += 1
    assert n == 4000 * len(cfg.rules)
    assert h.hexdigest() == EXPECTED
