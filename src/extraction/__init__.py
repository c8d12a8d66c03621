"""PySpark-native document layout-analysis / main-content extraction engine.

A from-scratch re-creation of the dataflow semantics of the reference
(ChengQikai/Layout-analysis — U-Net page segmentation + deterministic
block grouping/postprocessing, see /root/reference/src/DocumentAnalyzer.py)
recast over 1-D span sequences and executed through vectorized
pandas/Arrow UDFs on Spark DataFrames.

Modules
-------
constants    frozen thresholds ported from the reference (SURVEY.md §7.4)
schema       StructTypes for docs / extracted / lineage tables
classify     C1: rule-based vectorized span classifier (replaces the CNN)
segment      G1–G4 + X4/X6: column cuts, gap grouping, block extents
postprocess  Q1/Q2: small/contained elimination + vertical merge
oracle       pure-Python per-doc reference semantics (the spec)
pipeline     DataFrame wiring: read → repartition → mapInPandas → sink
lineage      checkpoint table commit / idempotent resume
corpus       deterministic synthetic docs corpus generator
zipcache     drops zip importers so PySpark's per-task set-up re-reads no archive
"""

__version__ = "0.1.0"
