"""North-rule upstream pipeline: Common-Crawl-style web pages → byte-exact
text extraction + OpenIE-style triple extraction, whose subject/object
surfaces are the mentions (vectorized pandas/Arrow UDFs) → entity
canonicalization (salted groupBy + token blocking, trigram containment and
connected components) → quad graph → the fragmenter (strategies/*) →
per-fragment partitioned writes with checkpoint/resume manifest and lineage
metrics. Entity-link scoring of mentions against a catalog is ``kg.link``.
"""
