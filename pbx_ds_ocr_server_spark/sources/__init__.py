"""Sources & sinks: the WARC source and the checkpointed resumable writer."""
