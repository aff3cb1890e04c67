"""Relational operators (SURVEY.md §2.3-§2.6): enrich joins, aggregates,
windows, skew mitigation. The fan-out router is plans/spec.run_pipeline."""
