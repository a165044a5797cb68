import run


def test_code_digest_follows_file_contents(tmp_path):
    for top in run.CODE_DIRS:
        (tmp_path / top).mkdir()
    mod = tmp_path / "mqtt2clickhouse_spark" / "m.py"
    mod.write_text("x = 1\n")
    first = run.code_digest(str(tmp_path))
    (tmp_path / "perfbench" / "__pycache__").mkdir()
    (tmp_path / "perfbench" / "__pycache__" / "m.pyc").write_bytes(b"\0")
    assert run.code_digest(str(tmp_path)) == first
    mod.write_text("x = 2\n")
    assert run.code_digest(str(tmp_path)) != first
