"""Source/sink abstraction (SURVEY.md §2.1)."""
