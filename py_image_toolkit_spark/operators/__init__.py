"""Engine operators: the doc kernel (the whole E1→E3 extraction as one Arrow
stage), E2 window geometry (pure Columns) and E3 labeling/merge/pivot (pure
Columns/Windows) for the contract queries q12-q17, plus the
training-data-pipeline operator family (dedup, similarity, text stats) over
the documents/embeddings tables."""
