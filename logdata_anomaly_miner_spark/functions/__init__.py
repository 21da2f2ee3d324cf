"""Scalar/analytic function layer: text analysis, deduplication and
similarity search — the training-data-pipeline operations the north star
adds on top of the AMiner detector inventory."""
