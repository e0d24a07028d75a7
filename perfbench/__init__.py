"""Benchmark of the flink_learning_practise_spark package; see README.md."""
