"""Scalar/text function library (SURVEY.md §2.3 generalized)."""
