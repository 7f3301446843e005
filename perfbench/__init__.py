"""Table-maintenance benchmark (see README.md)."""
