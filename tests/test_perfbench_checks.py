from perfbench.test_checks import *  # noqa: F401,F403
