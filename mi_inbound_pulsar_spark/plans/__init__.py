"""Physical-plan scale patterns: adaptive execution, bucketing,
iterative checkpoints, layout, ranking and skew handling."""
