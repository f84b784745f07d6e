"""DataFrame -> DataFrame operator stages (SURVEY.md §2).

transforms   T1-T7, T10: record normalization (single-pass JSON rewrite)
keying       K1-K3: canonical id, binary row key, version millis
filters      F1-F5: parse errors, blank ids, time range, exists status
envelope     T8-T9: AES-CTR body encryption, HDI message envelope
naming       W4: table-name derivation + collection coalescing
latest       latest-version-per-key (the core analytical operator)
dedup        exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup
similarity   brute-force + IVF / LSH cosine top-k
text         language id, quality scoring, token counts, fingerprints
multimodal   binary-column decode/feature plumbing (decoders stubbed)
"""
