"""Track/Fetch benchmark for kadiyadb_spark (see perfbench/README.md)."""
