"""Operator surface of the engine (SURVEY.md §2).

Each module maps one region of the reference's operator inventory
(§2.2/§2.3 map/flat-map/filter and the source transformer need no module:
they are plain DataFrame transforms — ``pipeline.MapUDF`` and the queries
``filter_transform`` / ``flat_map``):
    reduce_ops — §2.4 fixed / sliding / session / accumulator windows
    routing    — §2.6 conditional forwarding, fan-in/fan-out, partitioning
    dedup      — north-star: exact + near-duplicate detection
    similarity — north-star: embedding similarity search (brute force + LSH)
    text       — north-star: language-ID, quality, tokens, fingerprints
    multimodal — north-star: opaque binary columns + batch decode plumbing
    graph      — north-star: connected components for fuzzy-dedup clustering
"""
