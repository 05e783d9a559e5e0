"""Entity-resolution benchmark for globalign_spark; see run.py."""
