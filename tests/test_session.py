"""get_spark defaults that shape what a run prints."""


def test_console_progress_is_off_by_default(spark):
    """Stage progress bars would interleave with bench.py's and the CLI's
    stderr; get_spark turns them off (extra_conf can turn them back on)."""
    assert spark.conf.get("spark.ui.showConsoleProgress") == "false"
