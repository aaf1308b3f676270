"""destor_spark benchmark (see README.md)."""
