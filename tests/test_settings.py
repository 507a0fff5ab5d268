"""Config-file layer: precedence chain env > file > default, and the
CLI wired through it (reference utils/constants.py parity)."""

from reddit_data_pipeline_engineering_spark.settings import load_settings


def test_defaults_without_file_or_env():
    s = load_settings(None, env={})
    assert s.input_path is None
    assert s.output_path is None
    assert s.table is None
    assert s.get("file_paths", "input_path", fallback="d") == "d"


def test_file_overrides_defaults(tmp_path):
    conf = tmp_path / "settings.conf"
    conf.write_text(
        "[file_paths]\ninput_path = /data/raw\n"
        "[catalog]\ntable = marts\n"
    )
    s = load_settings(str(conf), env={})
    assert s.input_path == "/data/raw"
    assert s.table == "marts"
    assert s.output_path is None  # untouched


def test_env_beats_file(tmp_path):
    conf = tmp_path / "settings.conf"
    conf.write_text(
        "[file_paths]\ninput_path = /data/raw\n[catalog]\ntable = marts\n"
    )
    env = {"RDPE_FILE_PATHS_INPUT_PATH": "/env/raw", "RDPE_CATALOG_TABLE": "m"}
    s = load_settings(str(conf), env=env)
    assert s.input_path == "/env/raw"
    assert s.table == "m"


def test_missing_explicit_file_is_loud(tmp_path):
    import pytest

    with pytest.raises(FileNotFoundError):
        load_settings(str(tmp_path / "nope.conf"))
