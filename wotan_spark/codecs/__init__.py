"""Time-series block codecs: Gorilla XOR floats, delta-of-delta integers.

From the published Gorilla scheme (Pelkonen et al., VLDB 2015).  Blocks are
encoded per (doc_id, block) inside one packed pass and stored as
``binary`` payload columns.
"""
