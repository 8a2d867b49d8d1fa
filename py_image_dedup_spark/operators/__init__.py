"""Pipeline operators: exact dedup, LSH candidate join, connected
components, keep-best-copy selection, decontamination, similarity
search, and the BMP image codec plumbing (multimodal.py, reached by no
entry point)."""
