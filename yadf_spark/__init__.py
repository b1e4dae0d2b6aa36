"""yadf_spark — a PySpark-native near-duplicate detection & clustering engine.

A from-scratch re-imagining of the capabilities of jRimbault/yadf ("Yet
Another Dupes Finder") as an idiomatic Spark pipeline, generalized to
near-duplicate detection over a table of image + caption pairs:

* exact duplicate groups via a staged group-by-refinement ladder
  (size -> prefix hash -> suffix hash -> full hash), mirroring the
  reference's two-phase design (reference: src/fs.rs:42-262) but expressed
  as DataFrame window/group operations with narrow-row shuffles
  (the ``bytes`` column never crosses an exchange);
* near-duplicate detection: phash Hamming bands, MinHash over caption
  shingles, LSH band-join candidate generation with salted skew
  handling, exact verification (Jaccard / Hamming / decoded-pixel
  PSNR), and connected-components clustering;
* a streaming ingest gate: micro-batches checked against an on-disk
  band index of everything already ingested;
* training-data curation over text tables: the ``curate`` mode's
  C4 cleaning -> exact text dedup -> content-addressed split -> packing
  recipe, plus text operators (fuzzy decontamination, language id,
  quality scoring, data mixing, DSIR resampling) that only the driver
  contract exercises.

Everything is DataFrame API + column expressions + vectorized
pandas/Arrow UDFs. No per-row Python in any hot path.
"""

__version__ = "0.1.0"

from yadf_spark.session import get_spark  # noqa: F401
