package openoa_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed local file system, minus one process per file.
 * Without libhadoop, RawLocalFileSystem.setPermission forks /bin/chmod
 * for every file, .crc and directory it creates; {@link Raw} makes the
 * same chmod(2) call in-process. Everything else is Hadoop's own code.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (NativeIO.isAvailable()) {
        super.setPermission(p, permission);
        return;
      }
      java.nio.file.Path file = pathToFile(p).toPath();
      int mode = permission.toShort() & 07777;
      int old = (Integer) Files.getAttribute(file, "unix:mode");
      // as GNU `chmod 0755` does: a directory keeps its setuid/setgid bits
      if ((old & 0170000) == 0040000) {
        mode |= old & 06000;
      }
      Files.setAttribute(file, "unix:mode", mode);
    }
  }
}
