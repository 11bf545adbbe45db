"""Named, tested DataFrame -> DataFrame operators (SURVEY.md §2).

Each module groups one family from the operator inventory:

- ``conform``    — projections, renames, casts, scalar-function helpers
                   (P1-P8, §2.8)
- ``model``      — star-schema builders: dim_media / dim_visitor /
                   fact_media_engagement (§3.3)
- ``quality``    — data-quality operators Q1-Q5 (§2.11)
- ``analytics``  — gold aggregate queries, joins J1-J3, windows W1-W4,
                   top-k L3, rollups (§2.3-2.6, §3.4)
- ``dedup``      — exact + near-duplicate detection (extensions)
- ``similarity`` — embedding similarity search (extensions)
- ``text``       — text analysis: lang-id, quality, tokens, fingerprints
- ``multimodal`` — binary-column payload metadata and frame grid
                   (extensions)

An operator needs a caller other than a test: the registry in
``__spark_entry__.py``, the pipeline, ``bench.py``, ``scripts/`` or
``perfbench/``.  ``tests/test_reachability.py`` checks this and lists
the reviewed exceptions.
"""
