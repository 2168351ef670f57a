package dbpetl;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's {@code file:} FileSystem with one change: permissions are set
 * through java.nio instead of a {@code chmod} process. Without libhadoop,
 * RawLocalFileSystem forks {@code chmod} for every file, checksum file and
 * directory it creates. Checksums, umask handling and rename semantics are
 * inherited unchanged.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      String rwx = permission.getUserAction().SYMBOL
          + permission.getGroupAction().SYMBOL
          + permission.getOtherAction().SYMBOL;
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(rwx));
    }
  }
}
