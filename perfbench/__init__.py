"""Closed-loop stream benchmark for spark_states_spark; see README.md."""
