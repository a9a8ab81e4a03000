"""webxtract benchmark (see README.md)."""
