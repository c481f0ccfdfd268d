package movement_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system (every file keeps its .crc
 * sidecar, written and verified) whose permission calls are one chmod(2)
 * inside the JVM. Without native Hadoop IO, RawLocalFileSystem forks a
 * `chmod %04o` per created file or directory. The mode set is the same
 * (sticky and setuid bits included), symlinks are followed as chmod
 * follows them, and a failure throws IOException.
 */
public class InProcessChmodLocalFileSystem extends LocalFileSystem {
  public InProcessChmodLocalFileSystem() {
    super(new Raw());
  }

  static final class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
    }
  }
}
