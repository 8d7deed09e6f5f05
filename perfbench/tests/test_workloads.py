from types import SimpleNamespace

import workloads as W


def _saved(path):
    for part in ("metadata", "data"):
        (path / part).mkdir(parents=True)
        (path / part / "_SUCCESS").touch()


def test_check_model_needs_a_tree_and_a_complete_save(tmp_path):
    tree = SimpleNamespace(numNodes=7)
    path = tmp_path / "model"
    assert W.check_model(tree, str(path)) == "model was not saved"
    (path / "metadata").mkdir(parents=True)
    (path / "metadata" / "_SUCCESS").touch()
    assert W.check_model(tree, str(path)) == "model was not saved"
    (path / "data").mkdir()
    (path / "data" / "_SUCCESS").touch()
    assert W.check_model(tree, str(path)) is None
    assert W.check_model(SimpleNamespace(numNodes=1), str(path)) == "trainer returned no tree"
    assert W.check_model(None, str(path)) == "trainer returned no tree"


def test_train_removes_an_earlier_model_before_it_runs(tmp_path):
    _saved(tmp_path / W.MODEL_SET)
    ctx = SimpleNamespace(model_dir=str(tmp_path))
    W.TrainPipeline().prepare(ctx)
    assert not (tmp_path / W.MODEL_SET).exists()
    # A trainer that returns a tree but writes nothing now fails its check.
    assert W.check_model(SimpleNamespace(numNodes=7), str(tmp_path / W.MODEL_SET)) == (
        "model was not saved"
    )
