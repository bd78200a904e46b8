"""Operator layer: the KG passes (extraction, linking, components,
canonicalize, constraints), document and embedding dedup (dedup, with
similarity's LSH blocking), and the graph, temporal and ordering operators
the contract queries use."""
