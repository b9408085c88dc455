"""heracles_spark benchmark package (see README.md)."""
