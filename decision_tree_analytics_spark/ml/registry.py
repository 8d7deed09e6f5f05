"""Versioned model registry over the FileSet path convention.

The reference resolves a single model directory per FileSet
(``SparkMLTrainer.java:148-152``); production retraining needs
versions.  The registry keeps the same base layout and adds one
level: ``<base>/<name>/v0001``, ``v0002``, … — version directories
are immutable once written, "latest" is the highest version number
(no pointer file to go stale or race), and the missing-location
error keeps the reference predictor's exact message contract
(``SparkMLPredictor.java:113-116``).

Directory listing uses ``os`` — on a real cluster the base would be
an object store / HDFS path and the two ``listdir``/``exists`` calls
map 1:1 onto ``FileSystem.listStatus``/``exists``; model save/load
already go through Spark's Hadoop FS layer.
"""

from __future__ import annotations

import os
import re

from pyspark.ml.regression import DecisionTreeRegressionModel

from decision_tree_analytics_spark.errors import ModelNotFoundError

_VERSION_RE = re.compile(r"^v(\d{4,})$")
LATEST = "latest"


def list_versions(model_dir: str) -> list[str]:
    """Sorted version directory names (``v0001``…) under a model dir."""
    if not os.path.isdir(model_dir):
        return []
    found = [d for d in os.listdir(model_dir) if _VERSION_RE.match(d)]
    return sorted(found, key=lambda d: int(d[1:]))


def resolve_version(model_dir: str, version: str) -> str:
    """Resolve ``latest`` or an explicit ``vNNNN`` to a concrete path.

    ``latest`` with no versions raises the reference's missing-location
    error for the directory searched; explicit versions resolve without
    an existence check (the consumer's load guard owns that, matching
    the unversioned flow)."""
    if version == LATEST:
        versions = list_versions(model_dir)
        if not versions:
            raise ModelNotFoundError.at(os.path.join(model_dir, LATEST))
        return os.path.join(model_dir, versions[-1])
    return os.path.join(model_dir, version)


class ModelRegistry:
    """Save/load decision-tree models under ``<root>/<name>/vNNNN``."""

    def __init__(self, root: str) -> None:
        self.root = root

    def model_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def versions(self, name: str) -> list[str]:
        return list_versions(self.model_dir(name))

    def next_version(self, name: str) -> str:
        existing = self.versions(name)
        n = int(existing[-1][1:]) + 1 if existing else 1
        return f"v{n:04d}"

    def save(self, model, name: str) -> str:
        """Persist under the next version; returns the version path.
        Versions are write-once (no overwrite of an existing version)."""
        path = os.path.join(self.model_dir(name), self.next_version(name))
        model.write().save(path)
        return path

    def resolve(self, name: str, version: str = LATEST) -> str:
        path = resolve_version(self.model_dir(name), version)
        if not os.path.exists(path):
            raise ModelNotFoundError.at(path)
        return path

    def load(self, name: str, version: str = LATEST) -> DecisionTreeRegressionModel:
        return DecisionTreeRegressionModel.load(self.resolve(name, version))
