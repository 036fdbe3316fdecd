"""Source operators — work-list builders, the external fetch and the
synthetic ARD source (SURVEY §2.1)."""
