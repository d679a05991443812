"""`python -m trainingdata_spark` → the model verbs in cli.py."""

import sys

from trainingdata_spark.cli import main

if __name__ == "__main__":
    sys.exit(main())
