"""Same-host benchmark of the cognee_spark KG engine; see README.md."""
