"""Results taken at different core counts are never compared."""

import json

import compare


def _result(tmp_path, name, nproc, cpus, run_s):
    path = tmp_path / name
    stamp = {"nproc": nproc, "spark_graft_cpus": cpus, "seed": 1}
    path.write_text(json.dumps({"stamp": stamp, "correct": True, "metrics": {"run_s": run_s}}))
    return str(path)


def test_same_core_count_compares(tmp_path, capsys):
    a = _result(tmp_path, "a.json", 4, 4, 10.0)
    b = _result(tmp_path, "b.json", 4, 4, 12.0)
    assert compare.main([a, b]) == 0
    assert "1.200" in capsys.readouterr().out


def test_different_core_counts_are_refused(tmp_path, capsys):
    a = _result(tmp_path, "a.json", 4, 4, 10.0)
    for other in (_result(tmp_path, "b.json", 8, 8, 5.0), _result(tmp_path, "c.json", 4, 8, 5.0)):
        assert compare.main([a, other]) == 2
        out = capsys.readouterr()
        assert "refusing" in out.err and not out.out
