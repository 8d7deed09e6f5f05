"""Engine error types.

Validation failures reproduce the reference's error strings
byte-for-byte (asserted in DecisionTreeConfigTest.java:53,67,79-80,93
and SparkMLPredictor.java:113-116) so a user of the reference sees
identical diagnostics.
"""

from __future__ import annotations


class ConfigValidationError(ValueError):
    """Configure-time validation failure (reference: IllegalArgumentException)."""


class ModelNotFoundError(FileNotFoundError):
    """Predictor model location missing (SparkMLPredictor.java:113-116)."""

    @classmethod
    def at(cls, path: str) -> ModelNotFoundError:
        # byte-identical to SparkMLPredictor.java:113-116
        return cls(
            "Failed to find model to use for classification."
            f" Location does not exist: {path}."
        )
