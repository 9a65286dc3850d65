"""Operator library: relational core, search, dedup, similarity,
recommendation, multimodal. Import the submodule that holds an operator
(``from .operators import relational as R``); this package re-exports
nothing."""
