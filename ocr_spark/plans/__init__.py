"""Session construction + physical-plan quality checks."""
