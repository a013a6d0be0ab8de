"""Entity-pipeline benchmark (see README.md)."""
