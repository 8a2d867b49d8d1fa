"""Pipeline operators: exact dedup, LSH candidate join, connected
components, keep-best-copy selection, decontamination, similarity
search, multimodal plumbing (not reached by any entry point yet)."""
