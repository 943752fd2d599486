from .murmur3 import cassandra_token, murmur3_x64_128

__all__ = ["cassandra_token", "murmur3_x64_128"]
