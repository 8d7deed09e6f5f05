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

``save_model`` and ``load_model`` are the only way a tree is saved or
loaded (the trainer, the predictor and ``ModelRegistry`` all call
them).  Both pin the model in the driver, keyed by the SparkContext's
``applicationId`` and an md5 of every file under the model directory
(relative path and bytes).  ``DecisionTreeRegressionModel.load`` runs
three Spark jobs to read back bytes this JVM has usually just written
or read; a pinned model costs a 1 ms digest and a ``copy()`` instead.
Saved metadata carries a per-save timestamp and uid, so any rewrite of
the directory misses, and a model of a stopped context is never
served.  A copy shares the immutable JVM node tree, so a caller's
``setFeaturesCol``/``setPredictionCol`` never reaches the pinned
instance.
"""

from __future__ import annotations

import hashlib
import os
import re
import threading
from collections import OrderedDict

from pyspark import SparkContext
from pyspark.ml.regression import DecisionTreeRegressionModel

from decision_tree_analytics_spark.errors import ModelNotFoundError

_VERSION_RE = re.compile(r"^v(\d{4,})$")
LATEST = "latest"

_PINNED_MAX = 8
# (applicationId, files digest) -> model, LRU order.
_pinned: OrderedDict[tuple[str, str], DecisionTreeRegressionModel] = OrderedDict()
_pinned_lock = threading.Lock()


def _files_digest(path: str) -> str:
    """md5 over every file under ``path``: relative path, size, bytes."""
    h = hashlib.md5()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            with open(full, "rb") as fh:
                data = fh.read()
            h.update(f"{os.path.relpath(full, path)}\0{len(data)}\0".encode())
            h.update(data)
    return h.hexdigest()


def _pin_key(path: str) -> tuple[str, str]:
    return SparkContext.getOrCreate().applicationId, _files_digest(path)


def _pin(key: tuple[str, str], model: DecisionTreeRegressionModel) -> None:
    with _pinned_lock:
        _pinned[key] = model
        _pinned.move_to_end(key)
        if len(_pinned) > _PINNED_MAX:
            _pinned.popitem(last=False)


def save_model(model: DecisionTreeRegressionModel, path: str, overwrite: bool = False) -> None:
    """Save ``model`` to ``path``, then pin a copy of it."""
    writer = model.write()
    (writer.overwrite() if overwrite else writer).save(path)
    _pin(_pin_key(path), model.copy())


def load_model(path: str) -> DecisionTreeRegressionModel:
    """A copy of the model saved at ``path``: the pinned one when this
    context holds it, else loaded from the files and pinned."""
    if not os.path.exists(path):
        raise ModelNotFoundError.at(path)
    key = _pin_key(path)
    with _pinned_lock:
        model = _pinned.get(key)
        if model is not None:
            _pinned.move_to_end(key)
    if model is None:
        model = DecisionTreeRegressionModel.load(path)
        # Pin only what the digest describes: a rewrite racing the load
        # would otherwise pin the new bytes' model under the old key.
        if _files_digest(path) == key[1]:
            _pin(key, model)
    return model.copy()


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
        save_model(model, path)
        return path

    def resolve(self, name: str, version: str = LATEST) -> str:
        path = resolve_version(self.model_dir(name), version)
        if not os.path.exists(path):
            raise ModelNotFoundError.at(path)
        return path

    def load(self, name: str, version: str = LATEST) -> DecisionTreeRegressionModel:
        return load_model(self.resolve(name, version))
