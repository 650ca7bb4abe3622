"""Composable DataFrame -> DataFrame operators.

Each module covers one slice of the reference's operator inventory
(SURVEY.md §2) or a training-data-pipeline extension:

- ``cleaning``    — normalization / null-fill / dedup (P2, P5, P6, U1)
- ``enrichment``  — broadcast + shuffle dim joins (J1, J2)
- ``windows``     — event-time tumbling/sliding window aggregation (A1, T2)
- ``rollup``      — the daily batch rollup pipeline (X2: A2, W1, P7, J3, A3)
- ``dedup``       — exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup
- ``similarity``  — brute-force + hyperplane-LSH + IVF cosine top-k search
- ``text``        — language-guess, quality scoring, token counts, fingerprints
- ``multimodal``  — binary-column feature, resize and frame-sample plumbing
- ``skew``        — salted two-phase aggregation for hot-key groupBys
- ``corpus``      — training-corpus prep: splits, sampling, packing, TF-IDF,
  boilerplate/PII scrubs, budgeted mixtures, deterministic shuffle
- ``asof`` / ``rangejoin`` / ``streamjoin`` — point-in-time, interval, and
  stream-stream time-bounded joins
- ``temporal``    — SCD2 history, temporal join, streaks, EWMA, transitions
- ``incremental`` — aggregate delta-merge and CDC snapshot diff
- ``linkage``     — blocked fuzzy entity matching
- ``layout``      — Z-order clustering and the layout-quality report
- ``timeseries``  — gap fill, OLS trend, rolling distinct reach
- ``quality``     — one-scan rule reports, column profiles, winsorized stats
- ``maintenance`` — compaction and partition retention
- ``pipeline``    — composed training-set / corpus-refresh jobs

Every function is pure (no session state), takes and returns DataFrames, and
works on both batch and streaming inputs unless documented otherwise.
"""
